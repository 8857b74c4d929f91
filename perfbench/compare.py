"""Summarizes and compares sets of benchmark runs.

Both commands read JSON-lines logs written by `run.py --log FILE`
(untraced runs only; one line per run).

    python3 perfbench/compare.py spread RUNS.jsonl
        Per workload and end-to-end metric: run count, median, quartiles,
        and the quartile spread as a share of the median next to the
        metric's bound from BENCHMARK.json.

    python3 perfbench/compare.py diff PARENT.jsonl CHANGE.jsonl
        One row per workload and end-to-end metric: each side's median and
        quartiles, the share of pairs the change wins, and a verdict. Runs
        pair up by seed (by order where seeds differ). "better" needs the
        change to win at least 9/10 of the pairs (ties count for neither)
        and the medians to differ by more than the parent's interquartile
        range; "worse" is the same rule the other way; anything else is
        "unresolved". The last column says whether the change's median
        stays within the metric's bound of the parent's.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"]}


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        if r.get("trace", 0) == 0:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def spread(path):
    specs = metric_specs()
    print(f"{'workload':<12} {'metric':<14} {'n':>3} {'median':>11} {'q1':>11} {'q3':>11}"
          f" {'iqr/med':>8} {'bound':>6}")
    for w, runs in sorted(load(path).items()):
        for name, m in specs.items():
            xs = values(runs, name)
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("inf")
            flag = "" if rel < m["bound"] / 3 else (" > bound/3" if rel < m["bound"]
                                                    else " > BOUND")
            print(f"{w:<12} {name:<14} {len(xs):>3} {med:>11.5g} {q1:>11.5g} {q3:>11.5g}"
                  f" {rel:>8.4f} {m['bound']:>6}{flag}")


def pairs(parent, change):
    pb = {r["seed"]: r for r in parent}
    cb = {r["seed"]: r for r in change}
    common = sorted(set(pb) & set(cb))
    if len(common) >= min(len(parent), len(change)):
        return [(pb[s], cb[s]) for s in common]
    return list(zip(parent, change))


def diff(parent_path, change_path):
    specs = metric_specs()
    parent, change = load(parent_path), load(change_path)
    print(f"{'workload':<12} {'metric':<14} {'parent median [q1, q3]':<34}"
          f" {'change median [q1, q3]':<34} {'wins':>7} {'verdict':<11} bound")
    for w in sorted(set(parent) & set(change)):
        for name, m in specs.items():
            ps = pairs(parent[w], change[w])
            pv, cv = values(parent[w], name), values(change[w], name)
            if not pv or not cv:
                continue
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            sign = -1 if m["better"] == "lower" else 1
            wins = losses = 0
            for a, b in ps:
                d = sign * (b["metrics"][name]["value"] - a["metrics"][name]["value"])
                wins += d > 0
                losses += d < 0
            n = len(ps)
            gap = sign * (cmed - pmed)
            iqr = pq3 - pq1
            if n and wins >= 0.9 * n and gap > iqr:
                verdict = "better"
            elif n and losses >= 0.9 * n and -gap > iqr:
                verdict = "worse"
            else:
                verdict = "unresolved"
            within = -gap <= m["bound"] * pmed
            print(f"{w:<12} {name:<14} {pmed:>10.5g} [{pq1:.5g}, {pq3:.5g}]".ljust(62) +
                  f" {cmed:>10.5g} [{cq1:.5g}, {cq3:.5g}]".ljust(35) +
                  f" {wins:>3}/{n:<3} {verdict:<11} {'within' if within else 'EXCEEDED'}"
                  f" {m['bound']:.0%}")


def main(argv):
    if len(argv) == 3 and argv[1] == "spread":
        spread(argv[2])
        return 0
    if len(argv) == 4 and argv[1] == "diff":
        diff(argv[2], argv[3])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))
