"""Runs one benchmark workload against graft and prints its metrics.

    python3 perfbench/run.py --workload cc_synth --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Builds the program from the checkout's sources when needed (build.py),
then starts one JVM with every SPARK_GRAFT_* variable removed from its
environment, a fixed heap, and SPARK_LOCAL_DIRS inside perfbench/.work.
The JVM (graftbench.Main) sets the workload up from the seed, runs
untimed warm-up passes, measures passes for --seconds, checks every output,
and writes a result file. This script prints the effective settings and
every metric with its unit, then one JSON line: correct, attempted, failed
and the metrics (the end-to-end set with --trace 0, the per-layer set with
--trace 1). It exits 1 when an output is wrong, 2 when the program cannot
be built or started, 3 when the run overruns its time limit.

--log FILE appends the full result record (workload, seed, settings,
metrics) as one JSON line, the input of compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
WORK_ROOT = BENCH_DIR / ".work"
EXPECTED = BENCH_DIR / "expected" / "fingerprints.tsv"
WORKLOADS = ["cc_synth", "queries"]
HEAP = "2g"
YOUNG = "600m"
RUN_LIMIT_S = 175

# metric names, units and directions come from the benchmark definition
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def hermetic_env(work):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    return env


def run_jvm(workload, seed, seconds, trace, work, emit=None):
    """Runs graftbench.Main; returns the parsed result object."""
    classes = build.build()
    for d in (work / "local", work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes), str(build.spark_home() / "jars" / "*")])
    result = work / "result.json"
    # A fixed heap and young generation under the parallel collector: G1's
    # adaptive sizing moved pass times by ~10 % between identical runs.
    # No hsperfdata file and no temp files outside the checkout.
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work),
            "--result", str(result), "--expected", str(EXPECTED),
            "--launch-ms", str(int(time.time() * 1000))]
    if emit:
        cmd += ["--emit", str(emit)]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=hermetic_env(work), cwd=str(work),
                            start_new_session=True)
    try:
        proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{workload} overran {RUN_LIMIT_S} s")
    finally:
        # also on interruption: never leave the JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if proc.returncode != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{workload} exited {proc.returncode}:\n{tail}")
    return json.loads(result.read_text())


def fmt(x):
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def report(res, trace):
    """Prints settings and metrics; returns the metrics object."""
    s = res["settings"]
    print(f"# workload {res['workload']} seed {res['seed']}: " +
          ", ".join(f"{k}={fmt(v)}" for k, v in s.items()))
    metrics = {}
    if not trace:
        for d in SPEC["end_to_end"]:
            name, unit, better = d["name"], d["unit"], d["better"]
            m = res["end_to_end"][name]
            pct = f"p{m['pct']} {fmt(m['pct_value'])}" if "pct" in m else "p- (n<11)"
            print(f"  {name:<14} {fmt(m['median']):>12} {unit:<6} median, {pct}, n={m['n']}"
                  f" ({better} is better)")
            metrics[name] = {"value": m["median"], "unit": unit}
    else:
        for d in SPEC["per_layer"]:
            metrics[d["name"]] = {"value": res["per_layer"][d["name"]], "unit": d["unit"]}
        print("  " + ", ".join(f"{k}={fmt(v['value'])}" for k, v in metrics.items()))
    print("  per operation (median s): " +
          ", ".join(f"{k} {v:.3f}" for k, v in res["op_median_s"].items()))
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"  op_failure_ratio {ratio:.6g} ({res['failed']}/{res['attempted']} operations)")
    for f in res["failures"]:
        print(f"  FAIL {f}")
    return metrics


def main():
    # turn SIGTERM into an exception so the JVM is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log", help="append the full result record to this JSON-lines file")
    a = ap.parse_args()
    trace = a.trace == 1
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    WORK_ROOT.mkdir(parents=True, exist_ok=True)
    results = []
    try:
        for w in workloads:
            work = WORK_ROOT / f"{w}-s{a.seed}-t{a.trace}-{os.getpid()}"
            try:
                t0 = time.time()
                results.append(run_jvm(w, a.seed, a.seconds, trace, work))
                results[-1]["settings"]["run_wall_s"] = round(time.time() - t0, 3)
            finally:
                spans = work / "spans.jsonl"
                if spans.is_file():
                    shutil.copy(spans, WORK_ROOT / f"spans-{w}.jsonl")
                shutil.rmtree(work, ignore_errors=True)
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 3 if "overran" in str(e) else 2

    metrics = {}
    for res in results:
        m = report(res, trace)
        prefix = "" if len(results) == 1 else res["workload"] + "."
        metrics.update({prefix + k: v for k, v in m.items()})
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": res["workload"], "seed": res["seed"],
                                    "trace": a.trace, "metrics": m,
                                    "attempted": res["attempted"], "failed": res["failed"],
                                    "settings": res["settings"],
                                    "pass_samples": res["pass_samples"]}) + "\n")
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
