"""Regenerates src/test/resources/expected/query_net.tsv, the table QueryNetSpec checks.

    python3 src/test/query_net_expected.py

Runs `graft.QueryNet` (test scope, through sbt) once: it executes each
driver query in `QueryNet.queries` (those that run an iterative or BFS
level loop) on the sf0.001 and sf0.01 tables, writes every output as
parquet with its fingerprint `count:sum(xxhash64(row))`, and the queries'
`SparkEntry.oracleSql`. Each output is then compared row for row with
DuckDB running that SQL over the same parquet tables; the table is
written only when every output matched.

Run it on the commit whose outputs define "correct" and commit the table.
sbt runs with the caller's environment (e.g. offline resolution via
SBT_OPTS, as for the test suite).
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile

import duckdb

REPO = pathlib.Path(__file__).resolve().parents[2]
OUT = REPO / "src" / "test" / "resources" / "expected" / "query_net.tsv"
DIRS = {sf: f"/root/testdata/{sf}" for sf in ("sf0.001", "sf0.01")}  # QueryNet.dirs
TABLES = ["lineitem", "supplier", "documents", "orders", "customer", "part",
          "events", "region", "nation", "embeddings"]


def frame_equal(a, b):
    if sorted(a.columns) != sorted(b.columns) or a.shape != b.shape:
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    return bool((a.values == b.values).all())


def main():
    work = pathlib.Path(tempfile.mkdtemp(prefix="query-net-"))
    try:
        subprocess.run(["sbt", "--batch", f"Test/runMain graft.QueryNet {work}"],
                       cwd=REPO, check=True)
        oracle = json.loads((work / "oracle_sql.json").read_text())
        cons = {}
        for sf, d in DIRS.items():
            cons[sf] = duckdb.connect()
            for t in TABLES:
                cons[sf].execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        rows, bad = [], []
        for line in (work / "fingerprints.tsv").read_text().splitlines():
            sf, q, fp = line.split("\t")
            if q not in oracle:
                bad.append(f"{q} has no SparkEntry.oracleSql entry")
                continue
            con = cons[sf]
            got = con.execute(f"SELECT * FROM read_parquet('{work / sf / q}/*.parquet')").df()
            ok = frame_equal(got, con.execute(oracle[q]).df())
            print(f"{sf:<8} {q:<24} rows {fp.split(':')[0]:>6} {'match' if ok else 'MISMATCH'}")
            if ok:
                rows.append((sf, q, fp))
            else:
                bad.append(f"{sf} {q} differs from its DuckDB oracle")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("# tables\tquery\tcount:sum(xxhash64(row)); written by src/test/query_net_expected.py\n" +
                   "".join(f"{sf}\t{q}\t{fp}\n" for sf, q, fp in rows))
    print(f"wrote {len(rows)} fingerprints to {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
