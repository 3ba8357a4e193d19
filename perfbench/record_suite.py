#!/usr/bin/env python3
"""Record the expected results of the query_suite workload.

    python3 perfbench/record_suite.py

A maintenance tool, run when a registered query or the bundled tables
change on purpose; the benchmark itself never runs it. It

  1. runs every SparkEntry query over perfbench/data/sf0.001 at 4 and at
     2 cores, and renders each result as a row count plus an
     order-insensitive digest (perfbench.Digest);
  2. cross-checks each query that has an oracle (SparkEntry.oracleSql and
     the trained-constant oracles) by running that SQL in DuckDB over the
     same tables, writing its rows to parquet and digesting them with the
     same perfbench.Digest (perfbench.DigestFiles);
  3. writes perfbench/data/suite_expected.json: rows and digest per query,
     with the digest left out (rows only) where the two core counts
     disagree, and the oracle verdict per query.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.001")
OUT = os.path.join(HERE, "data", "suite_expected.json")


def suite_pass(cp, cpus):
    res = run.run_workload(cp, "query_suite", 0, 1, 0, time.time() + 900,
                           extra=("--queries", "all", "--cpus", str(cpus)))
    d = res["details"]
    if d["errors"]:
        sys.exit(f"queries failed at {cpus} cores: {d['errors']}")
    return d["results"], d["oracle_sql"]


def oracle_digests(cp, oracle):
    """Row count and digest of each oracle query's DuckDB result."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{DATA}/{f}'")
    rows_dir = os.path.join(build.build_dir(), "oracle_rows")
    shutil.rmtree(rows_dir, ignore_errors=True)
    os.makedirs(rows_dir)
    try:
        for name, sql in oracle.items():
            sql = sql.strip().rstrip(";")
            con.execute(f"COPY ({sql}) TO '{rows_dir}/{name}.parquet' (FORMAT PARQUET)")
        return run.run_main(cp, "perfbench.DigestFiles", "oracle", ["--in", rows_dir],
                            time.time() + 900)
    finally:
        shutil.rmtree(rows_dir, ignore_errors=True)


def main():
    cp = build.classpath(build.build()[0])
    r4, oracle = suite_pass(cp, 4)
    r2, _ = suite_pass(cp, 2)
    want = oracle_digests(cp, oracle)
    queries, verdicts = {}, {}
    for name in sorted(r4):
        a, b = r4[name], r2[name]
        stable = a["digest"] == b["digest"]
        queries[name] = {"rows": a["rows"], "digest": a["digest"] if stable else None}
        if not stable and a["rows"] != b["rows"]:
            sys.exit(f"{name}: row count depends on the core count ({a['rows']} vs {b['rows']})")
        if name in want:
            w = want[name]
            verdicts[name] = "match" if (w["rows"] == a["rows"] and w["digest"] == a["digest"]) \
                else (f"differs: oracle {w['rows']} rows {w['digest'][:16]}, "
                      f"spark {a['rows']} rows {a['digest'][:16]}")
        else:
            verdicts[name] = "no oracle"
    with open(OUT, "w") as fh:
        json.dump({"sf": "sf0.001", "cores": [4, 2], "queries": queries, "oracle": verdicts},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    bad = {k: v for k, v in verdicts.items() if v.startswith("differs")}
    print(f"{len(queries)} queries recorded, {sum(q['digest'] is None for q in queries.values())} "
          f"rows-only; oracle: {sum(v == 'match' for v in verdicts.values())} match, "
          f"{len(bad)} differ, {sum(v == 'no oracle' for v in verdicts.values())} without")
    for k, v in sorted(bad.items()):
        print(f"  {k}: {v}")


if __name__ == "__main__":
    main()
