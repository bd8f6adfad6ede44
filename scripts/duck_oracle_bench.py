"""Serial DuckDB timing over every oracle in __spark_entry__.oracle_sql().

The like-for-like baseline half of the paired measurement BASELINE.md
records (see "Bench-harness notes"): run this in the SAME hour as a
bench.py run, with nothing else on the host, and pair the two totals.

Usage: python scripts/duck_oracle_bench.py [sf_dir] [out_json]
Defaults: /root/testdata/sf0.1, /tmp/duck_oracle_bench.json
Prints one JSON line: {"total": sec, "n": #queries, "queries": {name: sec}}.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/duck_oracle_bench.json"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    times = {}
    t_all = time.perf_counter()
    for name, sql in oracles.items():
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as ex:  # noqa: BLE001 — record, keep timing the rest
            times[name] = None
            print(f"ERR {name}: {str(ex)[:120]}", file=sys.stderr)
    doc = {
        "total": round(time.perf_counter() - t_all, 2),
        "n": len(times),
        "sf_dir": SF_DIR,
        "queries": times,
    }
    with open(OUT, "w") as f:
        json.dump(doc, f)
    print(json.dumps({"total": doc["total"], "n": doc["n"]}))


if __name__ == "__main__":
    main()
