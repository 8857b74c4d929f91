"""Regenerates expected/fingerprints.tsv, the stored output gate.

    python3 perfbench/expected.py

For each table variant (seed mod 4), runs the `queries` workload once in
emit mode: the warm-up pass writes every operation's output as parquet and
its fingerprint `count:sum(xxhash64(row))`. Each output that has a
`SparkEntry.oracleSql` entry is then compared row for row with DuckDB
running that SQL over the same generated tables; the table is written only
when every output matched. cc_parts and repo_cc have no oracle SQL; they
are checked at run time against union-find and the planted components.

Run it on the commit whose outputs define "correct" and commit the table.
"""
import json
import shutil
import sys

import duckdb

import run

WORKLOADS = ["queries"]
VARIANTS = 4
TABLES = ["lineitem", "supplier", "orders", "documents", "embeddings"]
RUNTIME_CHECKED = {"cc_parts", "repo_cc"}


def frame_equal(a, b):
    if sorted(a.columns) != sorted(b.columns) or a.shape != b.shape:
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    return bool((a.values == b.values).all())


def main():
    rows, bad = [], []
    for v in range(VARIANTS):
        for w in WORKLOADS:
            work = run.WORK_ROOT / f"expected-{w}-{v}"
            shutil.rmtree(work, ignore_errors=True)
            emit = work / "out"
            emit.mkdir(parents=True)
            try:
                res = run.run_jvm(w, v, 0, False, work, emit=emit)
                if res["failed"]:
                    bad.append(f"variant {v} {w}: {res['failures']}")
                oracle = json.loads((emit / "oracle_sql.json").read_text())
                inputs = (emit / "inputs").read_text().strip()
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{inputs}/{t}.parquet/*.parquet')")
                for line in (emit / "fingerprints.tsv").read_text().splitlines():
                    _, op, fp = line.split("\t")
                    if op in RUNTIME_CHECKED:
                        continue
                    if op not in oracle:
                        bad.append(f"{op} has no SparkEntry.oracleSql entry")
                        continue
                    got = con.execute(
                        f"SELECT * FROM read_parquet('{emit}/{op}/*.parquet')").df()
                    ok = frame_equal(got, con.execute(oracle[op]).df())
                    print(f"variant {v} {op:<22} rows {fp.split(':')[0]:>7} "
                          f"{'match' if ok else 'MISMATCH'}")
                    if ok:
                        rows.append((v, op, fp))
                    else:
                        bad.append(f"variant {v} {op} differs from its DuckDB oracle")
            finally:
                shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    out = run.EXPECTED
    out.parent.mkdir(exist_ok=True)
    out.write_text("# variant\top\tcount:sum(xxhash64(row)); written by expected.py\n" +
                   "".join(f"{v}\t{op}\t{fp}\n" for v, op, fp in sorted(rows)))
    print(f"wrote {len(rows)} fingerprints to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
