"""Apply/merge kernel (W2-W5 composed) — CDC materialization.

The reference applies oplogs to the target with an insert/update/delete
ladder plus dup-key remediation (executor/db_writer_bulk.go:23-257,
db_writer_bulk.go:55-116). On Spark the whole ladder collapses into one
idempotent last-writer-wins MERGE: for each key, the final state is the
payload of the last non-delete op, absent if the last op was a delete.
That is exactly the reference's *final-state equivalence* test contract
(executor/db_writer_test.go pattern; SURVEY §5).

Batch form: ``max_by`` reconstruction (one shuffle on the key — map-side
partial aggregation means only one row per key per partition reaches the
exchange, which is what makes this viable at 100 TB of oplog).
Streaming form: streaming/apply.py folds each micro-batch into the target
with the same semantics (Delta ``MERGE INTO`` on a real cluster; a
read-union-rewrite on plain parquet here).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def last_writer_wins(
    oplog: DataFrame,
    key_col: str = "user_id",
    val_col: str = "value",
    ord_col: str = "id",
    op_col: str = "op",
) -> DataFrame:
    """Materialize final state from a CDC stream: per key, take the value
    at the max ordinal among i/u/d ops; drop keys whose last op is 'd'.

    ``merge_upsert``'s ``max_by`` fold from an empty target, not a window:
    partial aggregation runs map-side so the shuffle carries one candidate
    per (partition, key) instead of every version — a window
    (row_number) would shuffle every row.
    """
    state = merge_upsert(None, oplog, key_col, val_col, ord_col, op_col)
    return state.filter(F.col(op_col) != "d").select(key_col, val_col)


def merge_upsert(
    target: DataFrame | None,
    updates: DataFrame,
    key_col: str | Sequence[str] = "user_id",
    val_col: str = "value",
    ord_col: str = "id",
    op_col: str = "op",
    partition_by: str | None = None,
) -> DataFrame:
    """One MERGE step: fold a batch of CDC rows into the current target
    state, returning the new state ``(key, value, op, ordinal)``.

    Semantics match W2 (insert), W3 (update incl. upsert), W4 (delete),
    W5 (dup-key -> update): last writer by ordinal wins. Deletes are kept
    as TOMBSTONES (op='d' rows) rather than physically removed — resolving
    strictly by ordinal makes the fold correct under ANY batch arrival
    order and associative across segments (merge(merge(T,S1),S2) ==
    merge(T, S1 ∪ S2)); a physically-deleted key would be resurrected by a
    late-arriving lower-ordinal op. Readers use ``visible`` to drop
    tombstones; ``compact`` physically removes them once the source
    watermark passes their ordinal (the apply kernel does this at flush).

    The same associativity makes ONE fold over ``target ∪ batch`` equal
    to folding the batch first, so the step costs one aggregate.
    Idempotent — replaying a batch yields the same state, which is the
    at-least-once safety argument the reference relies on (README.md:57).
    ``key_col`` is one column or a sequence of them (a composite key such
    as ``(ns, user_id)``).

    ``partition_by`` (one of the key columns) hash-partitions the union
    on that column into the session's default parallelism before the
    fold (``operators/parallel.fan_out_scan``'s width rule): the fold
    then needs no exchange of its own, and all rows of one value of the
    column meet in one task, so a ``partitionBy`` write of the result
    emits one file per value.
    """
    keys = (key_col,) if isinstance(key_col, str) else tuple(key_col)
    is_op, cols, folds = _fold_exprs(keys, val_col, ord_col, op_col)
    rows = updates.filter(is_op)
    if target is not None:
        rows = target.select(*cols).unionByName(rows.select(*cols))
    if partition_by is not None:
        width = rows.sparkSession.sparkContext.defaultParallelism
        rows = rows.repartition(width, cols[keys.index(partition_by)])
    return rows.groupBy(*cols[: len(keys)]).agg(*folds)


@lru_cache(maxsize=None)
def _fold_exprs(
    keys: tuple[str, ...], val_col: str, ord_col: str, op_col: str
) -> tuple[Column, tuple[Column, ...], tuple[Column, ...]]:
    """``merge_upsert``'s op filter, state columns (keys first) and fold
    aggregates, built once per column naming: under PySpark's call-site
    capture each Column call is several py4j round trips, and the apply
    kernel folds every micro-batch."""
    return (
        F.col(op_col).isin("i", "u", "d"),
        tuple(F.col(c) for c in (*keys, val_col, op_col, ord_col)),
        (
            F.expr(f"max_by({val_col}, {ord_col})").alias(val_col),
            F.expr(f"max_by({op_col}, {ord_col})").alias(op_col),
            F.max(ord_col).alias(ord_col),
        ),
    )


def compact(
    state: DataFrame,
    low_watermark: int,
    op_col: str = "op",
    ord_col: str = "id",
) -> DataFrame:
    """Drop tombstones the source watermark has passed.

    A tombstone at ordinal ``t`` exists to out-rank a late/replayed op at
    ordinal ``< t`` that would otherwise resurrect the key. Once the source
    guarantees no op at ordinal ``<= low_watermark`` will ever be delivered
    again (under Structured Streaming: everything up to the last COMMITTED
    batch — replay re-delivers only the uncommitted batch, whose ordinals
    are all above it), a tombstone at ``t <= low_watermark`` can never be
    consulted again and is dead weight. Without this, 100 TB of churn grows
    state monotonically with every key ever deleted.
    """
    # a SQL string: one py4j call, where the Column form costs a few
    # dozen on every flush
    return state.filter(
        f"NOT (`{op_col}` = 'd' AND `{ord_col}` <= {int(low_watermark)})"
    )


def visible(
    state: DataFrame, op_col: str = "op", drop_meta: bool = True
) -> DataFrame:
    """The user-facing view of a merge state: tombstones filtered out."""
    out = state.filter(F.col(op_col) != "d")
    return out.drop(op_col) if drop_meta else out
