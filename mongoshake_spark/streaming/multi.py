"""Multi-namespace incremental apply — the reference's whole-deployment
sync shape.

MongoShake's incremental path applies EVERY replicated namespace through
one worker set (collector/syncer.go drives all namespaces; a row reaches
a worker by hash(ns) or hash(_id), oplog/hasher.go), not through a
worker of its own per collection. Here the same shape is ONE
``ApplyKernel`` whose merge key is ``(ns, user_id)``, behind one
foreachBatch callback and one checkpoint:

- every namespace of a micro-batch folds in the kernel's one MERGE over
  ``_bucket = pmod(hash(ns, user_id), n_buckets)``, so a batch's Spark
  job count does not grow with its namespace count;
- ``root_dir`` holds one bucketed table with an ``ns`` column, one
  ``_layout.json`` (bucket count and compaction watermark), and the
  dead-letter table under ``root_dir/_dead_letter`` unless another is
  given;
- ordering: per ``(ns, key)`` the MERGE resolves last-writer-wins by
  ordinal exactly as for one table; command rows (``db.$cmd`` included)
  are journaled — and executed, with a ``ddl_executor`` — ONCE each, in
  global ``(ts, id)`` order, through the kernel's barrier;
- replay safety, the M4 journal and W7 are the kernel's own: a replayed
  batch re-MERGEs idempotently, the journal records every row before
  filtering, and rows with a NULL ``ns`` reach the dead-letter table.

A root in the retired one-kernel-per-namespace layout (subdirectories
holding their own ``_layout.json``) is refused at open by ``ApplyKernel``:
those files carry no ``ns`` column, so no exact migration exists.

``mirror`` is deliberately NOT accepted here: a live mirror targets one
db.coll, so it would deliver every namespace into that single collection
(the CLI refuses the combination for the same reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongoshake_spark.streaming.apply import ApplyKernel, drain_feed

#: the merge key of the multi-namespace kernel
NS_KEY = ("ns", "user_id")


def multi_ns_kernel(
    spark: SparkSession, root_dir: str, **kernel_kwargs
) -> ApplyKernel:
    """The one kernel for every namespace under ``root_dir``."""
    if "mirror" in kernel_kwargs:
        raise ValueError(
            "the multi-namespace kernel does not accept a mirror: a live "
            "mirror targets ONE collection and would misdeliver every "
            "namespace but the named one"
        )
    root_dir = root_dir.rstrip("/")
    # W7: NULL-ns rows must be recorded, never dropped, so the
    # dead-letter table always exists (default under the root)
    kernel_kwargs.setdefault("dead_letter_dir", f"{root_dir}/_dead_letter")
    return ApplyKernel(spark, root_dir, key=NS_KEY, **kernel_kwargs)


def ns_state_view(kernel: ApplyKernel, ns: str) -> DataFrame | None:
    """One namespace's visible state, read from the shared table."""
    state = kernel.state_view()
    if state is None:
        return None
    return state.filter(F.col("ns") == ns).drop("ns")


def run_multi_incr_sync(
    spark: SparkSession,
    feed_dir: str,
    root_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    timeout_sec: float = 300.0,
    **kernel_kwargs,
) -> ApplyKernel:
    """Drain a replay feed into the multi-namespace table at ``root_dir``
    (one bounded drain, one checkpoint for the whole deployment — the
    reference's single replication job over all namespaces). Drains
    through ``drain_feed``, the single-table entry point's runner, so the
    timeout/resume contract is ``streaming/drain.drain``'s
    (TimeoutError, stream stopped, checkpoint resumes)."""
    kernel = multi_ns_kernel(spark, root_dir, **kernel_kwargs)
    drain_feed(
        spark, feed_dir, kernel.process_batch, checkpoint_dir,
        max_files_per_trigger, timeout_sec,
    )
    return kernel
