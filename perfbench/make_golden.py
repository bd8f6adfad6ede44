"""Write the curation workload's golden results.

Generates the curation inputs (``gen.write_tables`` at the given sf with
``workloads.CURATION_DATA_SEED``), runs each query's DuckDB oracle
(``oracle_sql()[name]``) over them and stores the result, normalized as
the oracle harness normalizes it, as ``golden/<name>.json``. Spark is not
involved. Re-run it after changing the generator or the query set:

    python3 perfbench/make_golden.py [--sf 0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", type=float, default=0.01)
    p.add_argument("--out", default=workloads.GOLDEN_DIR)
    args = p.parse_args()

    import __spark_entry__
    from tests.oracle_harness import run_oracle

    oracles = __spark_entry__.oracle_sql()
    os.makedirs(args.out, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as tmp:
        gen.write_tables(tmp, args.sf, workloads.CURATION_DATA_SEED)
        for name in workloads.CURATION_QUERIES:
            sql = oracles[name]
            tables = sorted(t for t in gen.BUILDERS
                            if re.search(rf"\b(from|join)\s+{t}\b", sql, re.I))
            df = run_oracle(tmp, sql)
            golden = {
                "query": name, "sf": args.sf, "seed": workloads.CURATION_DATA_SEED,
                "tables": tables,
                "inputs_sha256": workloads.tables_sha256(tmp, tables),
                "columns": sorted(df.columns),
                "n_rows": len(df),
                "rows_sha256": workloads.rows_sha256(df),
            }
            with open(os.path.join(args.out, f"{name}.json"), "w") as fh:
                json.dump(golden, fh, indent=0)
                fh.write("\n")
            print(f"{name}: {len(df)} rows over {tables}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
