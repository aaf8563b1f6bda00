#!/usr/bin/env python3
"""Derives perfbench/expected/query_mix_sf0.001.json: the row count and
content fingerprint of every query_mix query, computed by DuckDB from
the query's oracle SQL (`SparkEntry.oracleSql`) over perfbench/data/sf0.001,
normalized as tools/check_oracle.py compares results.

Run once when the data or a query's oracle changes:
  python3 perfbench/derive_expected.py
"""
import json
import subprocess
import sys

import run  # noqa: E402  (same directory)
import build

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    classes = build.build()
    data = run.DATA / "sf0.001"
    dump = run.WORK / "oracle_sql.json"
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{build.spark_jars() / '*'}",
                    "perfbench.OracleDump", str(dump)], check=True)
    oracle = json.loads(dump.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for q, sql in sorted(oracle.items()):
        n, fp = run.fingerprint(con, sql)
        out[q] = {"rows": n, "fingerprint": fp}
    run.EXPECTED.parent.mkdir(exist_ok=True)
    run.EXPECTED.write_text(json.dumps(
        {"sf": 0.001, "queries": out},
        indent=1, sort_keys=True) + "\n")
    print(f"wrote {run.EXPECTED} ({len(out)} queries)")


if __name__ == "__main__":
    sys.exit(main())
