"""Scale-proof experiment for the apply kernel's per-batch I/O.

Claim under test (round-4 fix, streaming/apply.py): per-micro-batch state
I/O — read AND write — scales with the batch's key spread, not with state
size. The round-3 kernel wrote incrementally but re-read the FULL state
after every flush (the old ``_flush`` ended with
``spark.read.parquet(target_dir).persist().count()``), making O(|state|)
read + recache the per-batch floor.

Method: seed a state of SEED_ROWS unique keys, then apply N_BATCHES small
update batches of BATCH_KEYS keys each (uniformly spread — the WORST case
for bucket locality; clustered keys only do better). Per batch, record:

- state rows/files read back for the merge (kernel instrumentation;
  partition-pruned to the touched ``_bucket=`` dirs)
- parquet bytes written (target dir delta)
- wall time

Run with ``--old`` to execute the identical workload against the round-3
kernel extracted from git (``git show <rev>:...apply.py``) for the
before/after table recorded in BASELINE.md. The old kernel has no read
instrumentation; its re-read is the full state by construction (its
``_flush`` re-reads ``target_dir`` unfiltered), so the table reports
|state| for its read column, measured wall + bytes for both.

Prints one JSON line.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongoshake_spark.session import get_spark  # noqa: E402

SEED_ROWS = 200_000
BATCH_KEYS = 32
N_BATCHES = 20
N_BUCKETS = 256


def snapshot(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime)
    return out


def bytes_rewritten(before: dict, after: dict) -> int:
    """Sum of parquet bytes laid down by the batch: files that are new or
    replaced (net size delta would hide a rewrite of same-sized buckets)."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def mk_batch(spark, first_id: int, keys: list[int], op: str = "u"):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (
            first_id + j,
            t0 + datetime.timedelta(seconds=first_id + j),
            k,
            op,
            "db0.c1",
            float(first_id + j),
            "{}",
        )
        for j, k in enumerate(keys)
    ]
    return spark.createDataFrame(
        rows,
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string",
    )


def load_kernel_class(old: bool):
    if not old:
        from mongoshake_spark.streaming.apply import ApplyKernel

        return ApplyKernel
    import importlib.util
    import subprocess

    src = subprocess.check_output(
        ["git", "show", "fcd24bd:mongoshake_spark/streaming/apply.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        text=True,
    )
    path = os.path.join(tempfile.gettempdir(), "r3_apply_kernel.py")
    with open(path, "w") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location("r3_apply_kernel", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclass field resolution needs this
    spec.loader.exec_module(mod)
    return mod.ApplyKernel


def main() -> None:
    old = "--old" in sys.argv
    spark = get_spark("scale_proof")
    spark.sparkContext.setLogLevel("ERROR")
    ApplyKernel = load_kernel_class(old)
    tmp = tempfile.mkdtemp(prefix="scale_proof_")
    target = os.path.join(tmp, "t")
    try:
        kernel = ApplyKernel(spark, target, n_buckets=N_BUCKETS)
        seed = mk_batch(spark, 1, list(range(SEED_ROWS)), op="i")
        t = time.time()
        kernel.process_batch(seed, 0)
        seed_secs = time.time() - t

        per_batch = []
        next_id = SEED_ROWS + 1
        for b in range(1, N_BATCHES + 1):
            # deterministic uniform spread — worst case for bucket locality
            keys = [(b * 7919 + j * 6271) % SEED_ROWS for j in range(BATCH_KEYS)]
            batch = mk_batch(spark, next_id, keys)
            next_id += BATCH_KEYS
            before = snapshot(target)
            t = time.time()
            kernel.process_batch(batch, b)
            wall = time.time() - t
            per_batch.append(
                {
                    "wall_sec": round(wall, 3),
                    "bytes_written": bytes_rewritten(before, snapshot(target)),
                    "state_rows_read": getattr(kernel, "last_state_rows_read", None),
                    "state_files_read": getattr(kernel, "last_state_files_read", None),
                }
            )
        mean = lambda k: round(  # noqa: E731
            sum(x[k] for x in per_batch if x[k] is not None) / len(per_batch), 3
        )
        state_rows = SEED_ROWS  # updates only — state row count is constant
        out = {
            "kernel": "r3-full-reread" if old else "r4-bucket-sliced",
            "seed_rows": SEED_ROWS,
            "batch_keys": BATCH_KEYS,
            "n_batches": N_BATCHES,
            "n_buckets": kernel.n_buckets,
            "seed_sec": round(seed_secs, 3),
            "mean_batch_sec": mean("wall_sec"),
            "rows_per_sec": round(
                BATCH_KEYS / mean("wall_sec"), 1
            ),
            "mean_bytes_written": mean("bytes_written"),
            "mean_state_rows_read": (
                mean("state_rows_read")
                if not old
                else state_rows  # by construction: unfiltered re-read
            ),
            "state_rows": state_rows,
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
