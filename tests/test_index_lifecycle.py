"""Persisted-index lifecycle: compaction, generation cutover, re-train.

The streaming dedup/ANN plane's stores are append-only (restart
idempotency via re-append + probe-side dedup); these tests pin the
maintenance plane that bounds that growth: a compaction rewrites a
deduplicated generation behind an atomic CURRENT pointer, the streams
resolve the pointer (band indexes per batch; the ANN stream pins it with
the frozen model and fails LOUDLY on a cutover under its feet), and a
re-train writes a complete new model+codes generation with the pointer
flip as the probe-side cutover.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from mongoshake_spark.streaming import index_lifecycle as lc
from mongoshake_spark.streaming.drain import drain


def _feed_file(df, tmp_path, feed, name):
    d = str(tmp_path / f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    os.makedirs(feed, exist_ok=True)
    os.replace(os.path.join(d, part), os.path.join(feed, f"{name}.parquet"))


def _docs(spark, n=200):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


def test_band_index_compaction_survives_restart_and_cutover(spark, tmp_path):
    """Replay-inflate the MinHash band index (fresh-checkpoint re-drain
    re-appends every batch), compact it, and keep streaming ACROSS the
    cutover: the per-batch generation resolution must route the next
    batch's probe and append to the compacted generation, and the final
    pair set must still equal the batch operator's."""
    from mongoshake_spark.functions.dedup import minhash_pairs
    from mongoshake_spark.streaming.neardup import streaming_lsh_dedup

    docs = _docs(spark, 200)
    feed = str(tmp_path / "feed")
    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    for i in range(2):
        _feed_file(docs.filter(F.col("doc_id") % 2 == i), tmp_path, feed, f"c{i}")

    def drain_from(ck):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        drain(
            streaming_lsh_dedup(stream, index_dir, pairs_dir, str(tmp_path / ck)),
            "band index drain", 300,
        )

    drain_from("ck1")
    drain_from("ck2")  # full replay: every band row appended twice
    inflated = spark.read.parquet(lc.resolve_store(index_dir))
    rows_before, rows_distinct = inflated.count(), inflated.distinct().count()
    assert rows_before == 2 * rows_distinct

    stats = lc.compact_band_index(spark, index_dir)
    assert stats["rows_after"] == rows_distinct
    assert stats["removed"] == rows_before - rows_distinct
    assert lc.read_current(index_dir) == stats["generation"]
    # the legacy flat payload was pruned: the only parquet left is the gen
    flat_left = [
        f for f in os.listdir(index_dir)
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    assert flat_left == []

    # stream on ACROSS the cutover: ck1 continues, only the new file runs,
    # and its appends/probes must hit the compacted generation
    extra = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
        .select("doc_id", "text")
    )
    _feed_file(extra, tmp_path, feed, "c2")
    drain_from("ck1")
    gen_rows = spark.read.parquet(lc.resolve_store(index_dir)).count()
    assert gen_rows > rows_distinct  # batch 3 appended INTO the generation

    all_docs = _docs(spark, 260)
    want = {
        (r["doc_a"], r["doc_b"]) for r in minhash_pairs(all_docs).collect()
    }
    # consumers key on the UNORDERED pair (the documented idempotency
    # contract): a replayed batch re-emits cross pairs in corpus
    # orientation, which can reverse a pair first seen increment-internal
    got = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in spark.read.parquet(pairs_dir).select("doc_a", "doc_b").collect()
    }
    assert got == want


def test_band_index_retention_predicate(spark, tmp_path):
    from mongoshake_spark.streaming.neardup import streaming_lsh_dedup

    docs = _docs(spark, 100)
    feed = str(tmp_path / "feed")
    index_dir = str(tmp_path / "index")
    _feed_file(docs, tmp_path, feed, "c0")
    stream = spark.readStream.schema(docs.schema).parquet(feed)
    drain(
        streaming_lsh_dedup(
            stream, index_dir, str(tmp_path / "pairs"), str(tmp_path / "ck")
        ),
        "band index drain", 300,
    )
    stats = lc.compact_band_index(spark, index_dir, retention="doc_id >= 50")
    kept = spark.read.parquet(lc.resolve_store(index_dir))
    assert kept.filter(F.col("doc_id") < 50).count() == 0
    assert stats["rows_after"] == kept.count() > 0


def _vecs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _drain_ann(spark, vecs, feed, index_dir, ck):
    from mongoshake_spark.streaming.ann_ingest import streaming_ann_ingest

    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    drain(streaming_ann_ingest(stream, index_dir, ck), "ann ingest drain", 600)


def test_ann_store_compaction_preserves_probe(spark, tmp_path):
    """Replay-inflate the code table, compact, probe unchanged; the
    dashboard shows the generation current and the codes shrunk."""
    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
    )

    vecs = _vecs(spark)
    index_dir, feed = str(tmp_path / "idx"), str(tmp_path / "feed")
    ann_index_bootstrap(vecs, index_dir, m=4, k_code=8, iters=2)
    for i in range(2):
        _feed_file(vecs.filter(F.col("vec_id") % 2 == i), tmp_path, feed, f"c{i}")
    _drain_ann(spark, vecs, feed, index_dir, str(tmp_path / "ck1"))
    _drain_ann(spark, vecs, feed, index_dir, str(tmp_path / "ck2"))  # replay

    queries = vecs.filter(F.col("vec_id") < 5)
    before = sorted(
        tuple(r)
        for r in ann_index_topk(spark, index_dir, queries, k=5, n_probe=2).collect()
    )
    codes_before = spark.read.parquet(
        os.path.join(lc.resolve_store(index_dir), "codes")
    ).count()
    stats = lc.compact_ann_store(spark, index_dir)
    assert stats["rows_after"] * 2 == codes_before == stats["rows_before"]
    after = sorted(
        tuple(r)
        for r in ann_index_topk(spark, index_dir, queries, k=5, n_probe=2).collect()
    )
    assert after == before

    gens = {
        r["generation"]: r
        for r in lc.index_generations(spark, index_dir).collect()
    }
    assert gens[stats["generation"]]["is_current"]
    assert "flat" not in gens  # legacy payload pruned after activation


def test_ann_generation_guard_fails_loudly_then_restart_resumes(
    spark, tmp_path
):
    """A compaction cutover UNDER a running pinned-model ingest stream
    must fail the stream loudly (never silently append to a store it no
    longer owns); restarting the stream picks up the new generation and
    the checkpoint replays the failed batch — no rows lost."""
    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
        streaming_ann_ingest,
    )

    vecs = _vecs(spark)
    index_dir, feed = str(tmp_path / "idx"), str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    ann_index_bootstrap(vecs, index_dir, m=4, k_code=8, iters=2)
    _feed_file(vecs.filter(F.col("vec_id") % 2 == 0), tmp_path, feed, "c0")
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = streaming_ann_ingest(stream, index_dir, ck).start()  # continuous
    try:
        deadline = time.time() + 300
        codes_flat = os.path.join(index_dir, "codes")
        while time.time() < deadline and not (
            os.path.isdir(codes_flat)
            and any(f.endswith(".parquet") for f in os.listdir(codes_flat))
        ):
            time.sleep(0.5)
        assert os.path.isdir(codes_flat), "first batch never landed"
        lc.compact_ann_store(spark, index_dir)  # cutover under the stream
        _feed_file(vecs.filter(F.col("vec_id") % 2 == 1), tmp_path, feed, "c1")
        with pytest.raises(Exception, match="generation changed"):
            assert q.awaitTermination(300), "stream never hit the guard"
    finally:
        q.stop()

    # restart against the new generation: checkpoint replays batch 2
    _drain_ann(spark, vecs, feed, index_dir, ck)
    got = sorted(
        tuple(r)
        for r in ann_index_topk(
            spark, index_dir, vecs.filter(F.col("vec_id") < 5), k=5, n_probe=2
        ).collect()
    )
    from mongoshake_spark.functions.quantization import ivfpq_topk

    want = sorted(
        tuple(r)
        for r in ivfpq_topk(
            vecs, list(range(5)), k=5, n_probe=2, m=4, k_code=8, iters=2
        ).collect()
    )
    assert got == want


def test_retrain_cutover_and_rollback_path(spark, tmp_path):
    """Re-train writes a complete new model+codes generation; the probe
    cuts over atomically to results matching a batch run under the NEW
    model; the old generation stays as the rollback path until pruned."""
    from mongoshake_spark.functions.quantization import ivfpq_topk
    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
    )

    vecs = _vecs(spark)
    index_dir, feed = str(tmp_path / "idx"), str(tmp_path / "feed")
    ann_index_bootstrap(vecs, index_dir, m=4, k_code=8, iters=2)
    _feed_file(vecs, tmp_path, feed, "c0")
    _drain_ann(spark, vecs, feed, index_dir, str(tmp_path / "ck"))

    queries = vecs.filter(F.col("vec_id") < 5)
    old = sorted(
        tuple(r)
        for r in ann_index_topk(spark, index_dir, queries, k=5, n_probe=2).collect()
    )

    stats = lc.retrain_ann_store(
        spark, index_dir, vecs, m=4, k_code=8, iters=2, centroid_mod=17
    )
    assert lc.read_current(index_dir) == stats["generation"]
    got = sorted(
        tuple(r)
        for r in ann_index_topk(spark, index_dir, queries, k=5, n_probe=2).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_topk(
            vecs,
            list(range(5)),
            k=5,
            n_probe=2,
            m=4,
            k_code=8,
            iters=2,
            centroid_mod=17,
        ).collect()
    )
    assert got == want
    assert got != old  # the new centroid geometry is genuinely different

    # rollback path: the pre-retrain payload is still on disk (flat here),
    # and prune reclaims it on request
    assert any(
        f == "codes" for f in os.listdir(index_dir)
    ), "old flat payload should survive a default (prune=False) retrain"
    removed = lc.prune_generations(index_dir, keep=1)
    assert "codes" in removed
    still = sorted(
        tuple(r)
        for r in ann_index_topk(spark, index_dir, queries, k=5, n_probe=2).collect()
    )
    assert still == got


def test_lifecycle_pointer_edge_cases(spark, tmp_path):
    store = str(tmp_path / "s")
    os.makedirs(store)
    # malformed CURRENT: fail loudly, never resolve to a junk payload
    with open(os.path.join(store, lc.CURRENT_FILE), "w") as fh:
        fh.write("not-a-generation\n")
    with pytest.raises(ValueError, match="not a gen"):
        lc.resolve_store(store)
    os.remove(os.path.join(store, lc.CURRENT_FILE))
    # activation target must exist (a typo must not brick the pointer)
    with pytest.raises(ValueError, match="does not exist"):
        lc.activate_generation(store, "gen-000099")
    # compaction of an empty store is an error, not a silent empty gen
    with pytest.raises(ValueError, match="no parquet payload"):
        lc.compact_band_index(spark, store)
    # dashboard on a store with nothing generational
    assert lc.index_generations(spark, store).count() == 0
    assert lc.prune_generations(store) == []
