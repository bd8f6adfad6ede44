"""Streaming NEAR-dup detection — MinHash-LSH at ingest time.

`streaming/dedup.py` suppresses EXACT re-arrivals; a continuous crawl
also needs near-duplicates flagged as they arrive. This is the streaming
form of `functions/dedup.incremental_minhash_pairs` (the daily-crawl
shape), run per micro-batch inside ``foreachBatch``:

1. band the batch (shingle -> 16 minhashes -> 4 band keys per doc);
2. probe the PERSISTED band index with the batch bands broadcast —
   a map-only scan of the index, the corpus never self-joins;
3. pair the batch against itself (intra-batch near-dups);
4. append the pairs (tagged ``origin`` = corpus | increment and the
   batch id) to the pairs table, and the batch's bands to the index.

State is the parquet band index itself — no state store: the index is
append-only, shared across restarts (the checkpoint replays any batch
whose appends didn't commit; pair emission is idempotent downstream for
consumers keyed on the UNORDERED pair — a replayed batch finds its own
bands already indexed, so a pair first seen increment-internal can
re-emit reversed with origin='corpus'; self-matches from that same
replay are dropped outright below). At 100 TB the index is
years of bands and the batch is a day — exactly the asymmetry the
broadcast probe exploits; index scans partition-prune nothing (bands
hash uniformly) but stay one map-only pass per batch. The append-only
growth (plus every crash-replay's re-appends) is bounded by the
maintenance plane in ``streaming/index_lifecycle``: a planned
compaction rewrites the index as a deduplicated new generation behind
an atomic ``CURRENT`` pointer, which these streams resolve per
micro-batch — a cutover between batches transparently redirects probe
and append to the compacted generation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mongoshake_spark.functions.dedup import (
    incremental_minhash_pairs,
    minhash_band_pairs,
    minhash_bands,
)
from mongoshake_spark.streaming.drain import drain
from mongoshake_spark.streaming.index_lifecycle import resolve_store


def streaming_lsh_dedup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> DataStreamWriter:
    """Wire the ingest-time near-dup stream over ``stream`` (a streaming
    DataFrame of documents). Returns the unstarted, checkpointed writer
    (``streaming/drain.drain`` runs it to the end of the feed; ``.start()``
    runs it continuously); pairs accumulate under ``pairs_dir`` as
    ``(doc_a, doc_b, origin, batch_id)``, the band index under
    ``index_dir``."""
    spark = stream.sparkSession

    fan = spark.sparkContext.defaultParallelism

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # fan the batch out first: a one-file micro-batch arrives as ONE
        # scan split, which serializes the Arrow signature kernel on a
        # single task (row-wise arithmetic, so the fan-out is bit-exact;
        # same fix as streaming/ann_ingest — at production batch sizes
        # the scan arrives pre-split and this is one narrow pass)
        batch_df = batch_df.repartition(fan)
        # band indexes are model-free, so the ACTIVE generation resolves
        # per batch (streaming/index_lifecycle): a compaction cutover
        # between micro-batches transparently redirects both the probe
        # and the append to the compacted generation
        idx = resolve_store(index_dir)
        # bands materialize ONCE per batch and serve both the pair
        # probe and the index append — without the shared handle the
        # signature kernel (the batch's dominant compute) ran twice
        inc_bands = minhash_bands(batch_df, text_col).localCheckpoint(eager=True)
        # one pass of the incremental operator against the index-so-far;
        # first batch has no index yet -> increment-internal pairs only
        if _index_exists(idx):
            # a crash-REPLAYED batch violates the operator's disjoint-id
            # contract (its own bands are already in the index), which
            # would emit (x, x) self-pairs — new pair keys that no batch
            # run produces, breaking the restart-idempotency argument;
            # a doc is never its own near-dup, so drop them here
            pairs = incremental_minhash_pairs(
                spark.read.parquet(idx), batch_df, text_col=text_col,
                increment_bands=inc_bands,
            ).filter(F.col("doc_a") != F.col("doc_b"))
        else:
            pairs = minhash_band_pairs(inc_bands).withColumn(
                "origin", F.lit("increment")
            )
        pairs.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(pairs_dir)
        # index append LAST: a crash between the two appends replays the
        # batch, which re-emits the same (doc_a, doc_b) pairs — idempotent
        # for any consumer keyed on the pair — rather than silently
        # growing an index whose pairs were never reported
        inc_bands.write.mode("append").parquet(idx)

    return stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def _index_exists(index_dir: str) -> bool:
    try:
        return any(f.endswith(".parquet") for f in os.listdir(index_dir))
    except OSError:
        return False


def run_streaming_lsh_dedup(
    spark: SparkSession,
    feed_dir: str,
    schema,
    work_dir: str,
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    timeout_sec: int = 300,
) -> DataFrame:
    """Bounded-drain harness: tail ``feed_dir`` one file per micro-batch
    (oldest mtime first — the replay convention), run the near-dup
    stream to completion, and return the accumulated distinct pairs."""
    index_dir, pairs_dir, ckpt = (
        os.path.join(work_dir, d) for d in ("index", "pairs", "ck")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )
    drain(
        streaming_lsh_dedup(stream, index_dir, pairs_dir, ckpt, text_col),
        "streaming_lsh_dedup", timeout_sec,
    )
    return spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "origin").distinct()


def streaming_phash_dedup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    decoder: str = "fake",
    max_hamming: int = 3,
) -> DataStreamWriter:
    """MEDIA twin of :func:`streaming_lsh_dedup`: ingest-time perceptual
    near-dup over a media stream. Per micro-batch: fingerprint each
    payload (operators/multimodal.phash64), band the 64-bit hashes with
    the SAME 4x16-bit SimHash machinery, probe the PERSISTED band index
    (batch bands broadcast onto a map-only index scan — the corpus never
    self-joins), pair the batch against itself, then append pairs and the
    batch's bands. State is the parquet band index itself — append-only,
    restart-idempotent for pair consumers keyed on (doc_a, doc_b), the
    identical argument to the text index above. Pigeonhole: Hamming <=
    ``max_hamming`` (< 4) pairs always share >= 1 band, so the drained
    pair set equals the batch ``phash_pairs`` run — which is exactly what
    the registry query pins against the brute-force oracle."""
    from mongoshake_spark.functions.dedup import (
        simhash_band_keys,
        simhash_pairs64,
    )
    from mongoshake_spark.operators.multimodal import phash64

    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # NO batch fan-out here, unlike streaming_lsh_dedup: repartition
        # would ship the media PAYLOAD bytes through an exchange, and the
        # measured addBatch got ~40% SLOWER with it (the vectorized phash
        # kernel is cheaper than moving the payloads; A/B in
        # OPTIMIZATION_r13.md)
        idx = resolve_store(index_dir)  # per-batch generation resolution
        sims = (
            phash64(batch_df, decoder)
            .withColumnRenamed("phash", "simhash")
            .localCheckpoint(eager=True)  # serves intra-pairs, probe, append
        )
        bands = simhash_band_keys(sims)
        intra = simhash_pairs64(
            batch_df, max_hamming=max_hamming, sims=sims
        ).withColumn("origin", F.lit("increment"))
        if _index_exists(idx):
            corpus = spark.read.parquet(idx)
            cross = (
                corpus.alias("c")
                .join(
                    F.broadcast(bands.alias("b")),
                    (F.col("c.k") == F.col("b.k"))
                    & (F.col("c.band_val") == F.col("b.band_val"))
                    & (F.col("c.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.least("c.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("c.doc_id", "b.doc_id").alias("doc_b"),
                    F.expr(
                        "CAST(bit_count(c.simhash ^ b.simhash) AS INT)"
                    ).alias("hamming"),
                )
                .filter(F.col("hamming") <= max_hamming)
                .distinct()
                .withColumn("origin", F.lit("corpus"))
            )
            pairs = intra.unionByName(cross)
        else:
            pairs = intra
        pairs.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(pairs_dir)
        # index append LAST (crash => batch replays => same pairs re-emit)
        bands.write.mode("append").parquet(idx)

    return stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
