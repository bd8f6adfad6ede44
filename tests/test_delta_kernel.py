"""ApplyKernel(state_format="delta") — the production MERGE INTO state
plane (DEPLOYMENT.md), run against the same semantic matrix the parquet
kernel passes: last-writer-wins, tombstones, replay idempotence, DDL
barriers, watermark compaction, resume, bucket-count refusal.

Two lanes over ONE set of scenario functions:

- **shim lane** (runs in this container): delta-spark cannot be
  installed here (no package index; the round rules forbid pip), so the
  kernel's real delta code path executes against tests/_delta_shim — a
  protocol-faithful emulation of the exact ``delta.tables`` subset the
  kernel drives, including Delta's multiple-source-match MERGE error.
  This verifies every expression string, schema alignment, and state
  transition the kernel hands to the Delta API, plus end-state equality
  with the parquet plane; it cannot verify delta-spark's own engine.
- **real lane** (``needs_delta``): when delta-spark IS present, run the
  same scenarios on a session built with its extensions, in a FRESH
  interpreter (the extension jars load at JVM start, so they cannot
  attach to the suite's already-running session):

      MONGOSHAKE_DELTA_TESTS=1 python -m pytest tests/test_delta_kernel.py
"""

from __future__ import annotations

import datetime
import importlib.util
import os

import pytest

from pyspark.sql import functions as F

HAVE_DELTA = importlib.util.find_spec("delta") is not None
OPTED_IN = os.environ.get("MONGOSHAKE_DELTA_TESTS") == "1"

T0 = datetime.datetime(2024, 1, 1)
SCHEMA = (
    "id long, ts timestamp, user_id long, op string, ns string, "
    "value double, o string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


# --- availability gates (run everywhere) ---------------------------------


def test_delta_state_format_gates_loudly_without_package(spark, tmp_path):
    """The availability contract: asking for the delta state plane
    without delta-spark installed must fail at construction with
    actionable guidance — never midway through a stream."""
    from mongoshake_spark.streaming.apply import ApplyKernel

    if HAVE_DELTA:
        pytest.skip("delta-spark installed; the missing-package gate "
                    "cannot be exercised here")
    with pytest.raises(RuntimeError, match="delta-spark"):
        ApplyKernel(spark, str(tmp_path / "t"), state_format="delta")


def test_delta_state_format_rejects_unknown_format(spark, tmp_path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    with pytest.raises(ValueError, match="state_format"):
        ApplyKernel(spark, str(tmp_path / "t"), state_format="iceberg")


# --- the semantic matrix, lane-independent --------------------------------


def _scn_merge_last_writer_wins_and_tombstones(sess, path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    k = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    k.process_batch(_batch(sess, [
        (1, T0, 10, "i", "db.c", 1.0, "{}"),
        (2, T0, 11, "i", "db.c", 2.0, "{}"),
        (3, T0, 10, "u", "db.c", 9.0, "{}"),
    ]), 0)
    got = {(r["user_id"], r["value"]) for r in k.state_view().collect()}
    assert got == {(10, 9.0), (11, 2.0)}
    # delete becomes a tombstone: invisible in the view, still outranking
    # a late lower-ordinal op
    k.process_batch(_batch(sess, [
        (4, T0, 11, "d", "db.c", 0.0, "{}"),
    ]), 1)
    got = {(r["user_id"], r["value"]) for r in k.state_view().collect()}
    assert got == {(10, 9.0)}
    k.process_batch(_batch(sess, [
        (1, T0, 11, "i", "db.c", 2.0, "{}"),  # stale replayed insert
    ]), 2)
    got = {(r["user_id"], r["value"]) for r in k.state_view().collect()}
    assert got == {(10, 9.0)}  # the ordinal-4 tombstone outranks it


def _scn_replay_idempotence(sess, path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    k = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    b = _batch(sess, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
        (2, T0, 2, "i", "db.c", 2.0, "{}"),
        (3, T0, 1, "d", "db.c", 0.0, "{}"),
    ])
    k.process_batch(b, 0)
    first = sorted(tuple(r) for r in k.state_view().collect())
    k.process_batch(b, 0)  # at-least-once re-delivery
    assert sorted(tuple(r) for r in k.state_view().collect()) == first


def _scn_ddl_barrier_order(sess, path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    k = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    # NOTE: the DDL command rides in the `o` column (value stays double)
    # — the original, never-executed form of this test had them swapped
    # and only the shim lane's first real run caught it
    k.process_batch(_batch(sess, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
        (2, T0, 0, "c", "db.$cmd", 0.0, '{"create": "c"}'),
        (3, T0, 1, "u", "db.c", 5.0, "{}"),
    ]), 0)
    assert [o[0] for o in k.ddl_log] == [2]
    got = {(r["user_id"], r["value"]) for r in k.state_view().collect()}
    assert got == {(1, 5.0)}


def _scn_tombstone_compaction_past_watermark(sess, path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    k = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    k.process_batch(_batch(sess, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
        (2, T0, 1, "d", "db.c", 0.0, "{}"),
    ]), 0)
    # the tombstone physically persists until a later flush touching its
    # bucket runs with the watermark past its ordinal
    raw = sess.read.format("delta").load(path)
    assert raw.filter(F.col("op") == "d").count() == 1
    k.process_batch(_batch(sess, [
        (3, T0, 1, "i", "db.c", 3.0, "{}"),
    ]), 1)
    raw = sess.read.format("delta").load(path)
    assert raw.filter(F.col("op") == "d").count() == 0
    got = {(r["user_id"], r["value"]) for r in k.state_view().collect()}
    assert got == {(1, 3.0)}


def _scn_new_kernel_resumes_from_state_dir(sess, path):
    from mongoshake_spark.streaming.apply import ApplyKernel

    k1 = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    k1.process_batch(_batch(sess, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
    ]), 0)
    k2 = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    k2.process_batch(_batch(sess, [
        (2, T0, 2, "i", "db.c", 2.0, "{}"),
    ]), 1)
    got = {(r["user_id"], r["value"]) for r in k2.state_view().collect()}
    assert got == {(1, 1.0), (2, 2.0)}
    assert k2._watermark == 2  # marker round-trip across kernel objects


def _scn_rejects_bucket_count_mismatch(sess, path):
    """Reopening a delta state dir with a different n_buckets must fail
    loudly: the MERGE condition includes the bucket column, so a silent
    reopen would miss every match and duplicate keys (the parquet path
    migrates; delta refuses)."""
    from mongoshake_spark.streaming.apply import ApplyKernel

    k1 = ApplyKernel(sess, path, state_format="delta", n_buckets=8)
    k1.process_batch(_batch(sess, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
    ]), 0)
    k2 = ApplyKernel(sess, path, state_format="delta", n_buckets=4)
    with pytest.raises(RuntimeError, match="n_buckets"):
        k2.process_batch(_batch(sess, [
            (2, T0, 2, "i", "db.c", 2.0, "{}"),
        ]), 1)


_SCENARIOS = [
    _scn_merge_last_writer_wins_and_tombstones,
    _scn_replay_idempotence,
    _scn_ddl_barrier_order,
    _scn_tombstone_compaction_past_watermark,
    _scn_new_kernel_resumes_from_state_dir,
    _scn_rejects_bucket_count_mismatch,
]


# --- shim lane -------------------------------------------------------------


@pytest.fixture()
def shim(spark):
    if HAVE_DELTA:
        pytest.skip("real delta-spark present; run the needs_delta lane")
    from tests import _delta_shim

    with _delta_shim.installed():
        yield spark


@pytest.mark.parametrize("scenario", _SCENARIOS, ids=lambda s: s.__name__)
def test_delta_matrix_shim(shim, tmp_path, scenario):
    scenario(shim, str(tmp_path / "t"))


def test_delta_end_state_equals_parquet_plane(shim, tmp_path):
    """CORRECTNESS-style equality: the SAME three-batch CRUD feed
    (inserts, updates, deletes, a replayed batch, cross-bucket keys)
    through the parquet kernel and the delta kernel must converge to the
    IDENTICAL visible end state — the format swap point changes the
    storage transaction, never the semantics."""
    from mongoshake_spark.streaming.apply import ApplyKernel

    batches = [
        [
            (1, T0, 1, "i", "db.c", 1.0, "{}"),
            (2, T0, 2, "i", "db.c", 2.0, "{}"),
            (3, T0, 3, "i", "db.c", 3.0, "{}"),
            (4, T0, 1, "u", "db.c", 1.5, "{}"),
        ],
        [
            (5, T0, 2, "d", "db.c", 0.0, "{}"),
            (6, T0, 4, "i", "db.c", 4.0, "{}"),
            (7, T0, 3, "u", "db.c", 3.5, "{}"),
        ],
        [
            (8, T0, 2, "i", "db.c", 2.2, "{}"),  # re-insert after delete
            (9, T0, 5, "i", "db.c", 5.0, "{}"),
            (10, T0, 4, "d", "db.c", 0.0, "{}"),
        ],
    ]
    pk = ApplyKernel(shim, str(tmp_path / "pq"), n_buckets=4)
    dk = ApplyKernel(shim, str(tmp_path / "dl"), state_format="delta",
                     n_buckets=4)
    for i, rows in enumerate(batches):
        b = _batch(shim, rows)
        pk.process_batch(b, i)
        dk.process_batch(b, i)
        if i == 1:  # at-least-once: replay the middle batch on both
            pk.process_batch(b, i)
            dk.process_batch(b, i)
    def state(k):
        # state_view drops tombstones AND the op meta column (visible())
        return sorted(
            (r["user_id"], r["value"], r["id"])
            for r in k.state_view().collect()
        )
    ps, ds = state(pk), state(dk)
    assert ps == ds
    assert ps == [(1, 1.5, 4), (2, 2.2, 8), (3, 3.5, 7), (5, 5.0, 9)]


def test_shim_merge_multiple_source_match_raises(shim, tmp_path):
    """The shim keeps Delta's MERGE tripwire: multiple source rows
    matching one target row must raise, so a regression in the kernel's
    per-key-unique net-segment invariant fails loudly instead of
    committing an ambiguous update."""
    from delta.tables import DeltaTable

    path = str(tmp_path / "t")
    base = shim.createDataFrame(
        [(1, 10.0, 0)], "k long, v double, ord long"
    ).withColumn("_bucket", F.lit(0))
    base.write.format("delta").partitionBy("_bucket").mode("overwrite").save(path)
    dup_src = shim.createDataFrame(
        [(1, 11.0, 1), (1, 12.0, 2)], "k long, v double, ord long"
    ).withColumn("_bucket", F.lit(0))
    t = DeltaTable.forPath(shim, path)
    with pytest.raises(Exception, match="MULTIPLE_SOURCE_ROW"):
        (
            t.alias("t")
            .merge(dup_src.alias("s"), "t._bucket = s._bucket AND t.k = s.k")
            .whenMatchedUpdate(condition="s.ord >= t.ord",
                               set={"v": "s.v", "ord": "s.ord"})
            .whenNotMatchedInsertAll()
            .execute()
        )


def test_delta_refuses_existing_parquet_state(spark, tmp_path):
    """Reopening a parquet-format state dir with state_format='delta'
    must refuse loudly BEFORE any write: the first delta segment is a
    mode('overwrite') save that would replace the accumulated state.
    The shim satisfies the availability gate; _ensure_layout's refusal
    fires before any Delta API call."""
    from mongoshake_spark.streaming.apply import ApplyKernel
    from tests import _delta_shim

    d = str(tmp_path / "t")
    pk = ApplyKernel(spark, d, n_buckets=4)
    pk.process_batch(_batch(spark, [
        (1, T0, 1, "i", "db.c", 1.0, "{}"),
    ]), 0)
    with _delta_shim.installed() if not HAVE_DELTA else _noop():
        dk = ApplyKernel(spark, d, state_format="delta", n_buckets=4)
        with pytest.raises(RuntimeError, match="parquet-format"):
            dk.state_view()


class _noop:
    def __enter__(self):
        return None

    def __exit__(self, *a):
        return False


# --- real lane (delta-spark present; fresh interpreter) --------------------

needs_delta = pytest.mark.skipif(
    not (HAVE_DELTA and OPTED_IN),
    reason="delta-spark not installed or MONGOSHAKE_DELTA_TESTS!=1 "
    "(run standalone in a fresh interpreter; see module docstring)",
)


@pytest.fixture(scope="module")
def delta_spark():
    from delta.pip_utils import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .appName("delta-kernel-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark
    spark.stop()


@needs_delta
@pytest.mark.parametrize("scenario", _SCENARIOS, ids=lambda s: s.__name__)
def test_delta_matrix_real(delta_spark, tmp_path, scenario):
    scenario(delta_spark, str(tmp_path / "t"))


def test_delta_multi_ns_fanout_on_shim(shim, tmp_path):
    """The multi-namespace kernel passes state_format through, so every
    namespace lands in ONE delta table merged on (_bucket, ns, user_id):
    two namespaces sharing a user id, a second batch through a fresh
    kernel re-opened from the state dir — end state per namespace must
    match the single-kernel semantics."""
    from mongoshake_spark.streaming.multi import multi_ns_kernel, ns_state_view

    root = str(tmp_path / "root")
    multi_ns_kernel(shim, root, state_format="delta", n_buckets=4).process_batch(
        _batch(shim, [
            (1, T0, 1, "i", "db.a", 1.0, "{}"),
            (2, T0, 1, "i", "db.b", 10.0, "{}"),
            (3, T0, 2, "i", "db.a", 2.0, "{}"),
        ]), 0)
    kernel = multi_ns_kernel(shim, root, state_format="delta", n_buckets=4)
    kernel.process_batch(_batch(shim, [
        (4, T0, 1, "u", "db.a", 1.5, "{}"),
        (5, T0, 1, "d", "db.b", 0.0, "{}"),
        (6, T0, 3, "i", "db.b", 30.0, "{}"),
    ]), 1)
    a = {(r["user_id"], r["value"])
         for r in ns_state_view(kernel, "db.a").collect()}
    b = {(r["user_id"], r["value"])
         for r in ns_state_view(kernel, "db.b").collect()}
    assert a == {(1, 1.5), (2, 2.0)}
    assert b == {(3, 30.0)}  # user 1's delete tombstoned it out
