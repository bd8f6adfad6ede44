"""Capture .explain("formatted") for declared queries into text files.

Usage: python scripts/capture_plans.py <out_dir> [sf_dir] [names_csv|all]

Writes <out_dir>/<query>.txt for each requested query. Streaming-harness
queries execute their drain while the builder runs (the returned frame
reads the sink), so a full capture costs roughly one serial bench pass.
The captured plan is the plan of the RETURNED DataFrame — for streaming
queries that is the sink read, which is the honest "what the bench's
count() executes" plan; the in-stream plan is asserted separately by
tests/test_plans.py and scripts/plan_audit.py.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = (
        None
        if len(sys.argv) <= 3 or sys.argv[3] == "all"
        else set(sys.argv[3].split(","))
    )
    os.makedirs(out_dir, exist_ok=True)

    from mongoshake_spark.plans import QUERIES
    from mongoshake_spark.session import get_spark

    spark = get_spark("capture-plans")
    failed = []
    for name, q in QUERIES.items():
        if names is not None and name not in names:
            continue
        try:
            df = q.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"ok   {name}", flush=True)
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: {exc}", flush=True)
    print(f"done; {len(failed)} failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
