"""Registry domain: streaming (split from plans/queries.py; registration order preserved within the file)."""

from __future__ import annotations

from mongoshake_spark.plans.queries._shared import (  # noqa: F401
    F,
    _MINHASH_CTES,
    _q,
    _stream_tmpdir,
    _write_class_feed,
    dedup,
    load_table,
    merge,
)
from mongoshake_spark.streaming.drain import drain, stream_session



@_q(
    "stream_dedup",
    "SELECT DISTINCT md5(text) AS text_hash FROM documents ORDER BY 1",
    "Streaming ingest dedup: the documents table PLUS a full re-crawl "
    "copy (ids shifted so every copy lands in a LATER micro-batch than "
    "its original) replayed as a 2-micro-batch stream through "
    "dropDuplicatesWithinWatermark on the content hash — the dedup state "
    "store must suppress every cross-batch re-arrival, leaving exactly "
    "the batch-distinct hash set (fixture texts are exact-distinct, so "
    "emitted cardinality = |docs|, input = 2x that; the id-range split "
    "puts ALL originals in batch 1 and ALL re-crawls in batch 2, so "
    "every duplicate crosses the batch boundary — more batches add "
    "state-store rounds, not coverage).",
    stream=True,
)
def stream_dedup_q(spark, sf_dir):
    import shutil

    from mongoshake_spark.streaming.dedup import stream_exact_dedup

    # 8 state-store partitions instead of the session's 32: the dedup
    # store commits every instance each micro-batch, so per-batch wall on
    # this 2-batch drain scales with store instances, not rows
    ss = stream_session(spark, 8)
    base = load_table(ss, sf_dir, "documents")
    shift = 1 << 40  # re-crawl copies sort after every original
    docs = (
        base.select("doc_id", "text")
        .unionByName(
            base.select((F.col("doc_id") + shift).alias("doc_id"), "text")
        )
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1700000000) + (F.col("doc_id") % F.lit(shift))
            ).alias("ts"),
        )
    )
    tmp = _stream_tmpdir("sdedup_")
    feed_dir, ckpt_dir, out_dir = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    try:
        # DETERMINISTIC split (not repartitionByRange, whose sampled
        # boundary could leak a few originals into batch 2 next to their
        # copies and quietly weaken the cross-batch claim): batch 1 =
        # every original, batch 2 = every re-crawl copy, by id threshold
        _write_class_feed(
            docs, F.col("doc_id") >= shift, 2, feed_dir, tmp
        )
        stream = (
            ss.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        drain(
            stream_exact_dedup(stream, watermark="10 hours")
            .select("text_hash")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir),
            "stream_dedup",
        )
        return (
            spark.read.parquet(out_dir)
            .select("text_hash")
            .orderBy("text_hash")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_q(
    "session_window_stream",
    """WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id % 5 = 0),
s AS (
  SELECT user_id, event_id, ts,
         sum(CASE WHEN prev IS NULL
                    OR epoch_us(ts) - epoch_us(prev) >= CAST(43200 AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 12 HOUR AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_start""",
    "STREAMING session windows (1/5 user sample): the events table replayed as a "
    "4-micro-batch watermarked stream through the stateful "
    "session_window operator (streaming/windows.session_counts), drained "
    "with availableNow into a parquet sink; a far-future sentinel row in "
    "the final batch advances the watermark so the closing no-data "
    "micro-batch flushes every real session. The emitted set must equal "
    "the BATCH session model exactly — exactly-once and complete over a "
    "finite replay.",
    stream=True,
)
def session_window_stream_q(spark, sf_dir):
    import os
    import tempfile
    import time

    from mongoshake_spark.streaming.windows import session_counts

    # 4 state-store partitions: the session store commits every instance
    # each micro-batch, and the 1/5 user sample holds few session keys
    ss = stream_session(spark, 4)
    ev = (
        load_table(ss, sf_dir, "events")
        .filter(F.col("user_id") % 5 == 0)  # sample: state cost, not semantics
        .select("user_id", "event_id", "ts")
    )
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    tmp = _stream_tmpdir("swstream_")
    feed_dir, ckpt_dir, out_dir = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    # 2 ranged files = 2 micro-batches (+ the closing no-data batch):
    # sessions spanning the ts boundary still merge ACROSS batches (the
    # stateful claim). The far-future watermark sentinel rides INSIDE the
    # second file (it has the max ts, so the range partitioner lands it
    # there): batch 2 advances the watermark past every real session and
    # the closing no-data batch flushes them all — round 8 shipped the
    # sentinel as its own third file, paying a full extra state-store +
    # sink-commit round for nothing the two-file replay doesn't assert.
    # Finding max(ts) costs one aggregate over the sampled feed (cheaper
    # than the micro-batch it replaces).
    import datetime as dt

    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel_ts = max_ts + dt.timedelta(hours=16)
    sentinel = ss.createDataFrame(
        [(-1, -1, sentinel_ts)], "user_id bigint, event_id bigint, ts timestamp"
    )
    (
        ev.unionByName(sentinel)
        .repartitionByRange(2, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(feed_dir)
    )
    # mtime order = replay order: ascending ts ranges (range partition i
    # is written as part-i, so lexical order IS range order)
    parts = sorted(
        f for f in os.listdir(feed_dir) if f.endswith(".parquet")
    )
    t0 = time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed_dir, f), (t0 + i, t0 + i))
    stream = (
        ss.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    drain(
        session_counts(stream, gap="12 hours", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir),
        "session_window_stream",
        300,
    )
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)  # the sentinel's session stays open
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


@_q(
    "stream_static_enrich",
    """SELECT coalesce(c.c_mktsegment, '(none)') AS segment,
       count(*) AS cnt, CAST(sum(e.user_id) AS BIGINT) AS key_sum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1""",
    "Stream-STATIC enrichment join: the events feed replayed as a "
    "2-micro-batch stream, each batch broadcast-joined against the "
    "static customer dimension (the canonical CDC-enrichment shape: the "
    "dim is re-resolvable per batch, no state store involved), drained "
    "to a parquet sink and aggregated; totals must equal the batch "
    "join. Stateless per batch — at 100 TB/day the only cost above the "
    "scan is the broadcast.",
    stream=True,
)
def stream_static_enrich_q(spark, sf_dir):
    import os
    import time

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    tmp = _stream_tmpdir("senrich_")
    feed_dir, ckpt_dir, out_dir = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    ev.repartitionByRange(2, "event_id").write.mode("overwrite").parquet(feed_dir)
    parts = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    t0 = time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed_dir, f), (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "left"
    ).select("event_id", "user_id", "c_mktsegment")
    drain(
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir),
        "stream_static_enrich",
        300,
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("(none)")).alias("segment")
        )
        .agg(F.count("*").alias("cnt"), F.sum("user_id").alias("key_sum"))
        .orderBy("segment")
    )


@_q(
    "stream_join",
    """SELECT l.user_id, count(*) AS n_pairs,
       CAST(sum(r.event_id) AS BIGINT) AS pair_id_sum
FROM events l JOIN events r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
WHERE l.event_type = 'signup' AND r.event_type = 'purchase'
GROUP BY 1 ORDER BY 1""",
    "STREAM-STREAM interval join: signups and purchases replayed as two "
    "independent 2-micro-batch file streams, watermarked on both sides, "
    "inner-joined on user within [signup, signup+30min] — the state "
    "store buffers each side only until the watermark proves no future "
    "match can arrive (state ~ rate x (delay + span) at 100 TB/day, "
    "independent of history; the replay uses a generous delay so the "
    "finite drain is complete). Drained totals must equal the batch "
    "join (streaming/joins.stream_interval_join).",
    stream=True,
)
def stream_join_q(spark, sf_dir):
    import os
    import time

    from mongoshake_spark.streaming.joins import stream_interval_join

    # 4 partitions: a stream-stream join commits TWO state stores per
    # partition every micro-batch, so per-batch wall on this bounded
    # drain scales with store instances, not data
    ss = stream_session(spark, 4)
    ev = load_table(ss, sf_dir, "events")
    # watermarks require TIMESTAMP (with zone); the parquet NTZ cast is
    # lossless and the joined output carries no ts columns, so the zone
    # never reaches the compared result
    lt = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    rt = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    tmp = _stream_tmpdir("sjoin_")
    ldir, rdir, ck, out = (
        os.path.join(tmp, d) for d in ("left", "right", "ck", "out")
    )
    for df, feed, ts in ((lt, ldir, "l_ts"), (rt, rdir, "r_ts")):
        df.repartitionByRange(2, ts).sortWithinPartitions(ts).write.parquet(feed)
        parts = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
        base = time.time() - len(parts) - 10
        for i, f in enumerate(parts):
            os.utime(os.path.join(feed, f), (base + i, base + i))
    ls = (
        ss.readStream.schema(lt.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir)
    )
    rs = (
        ss.readStream.schema(rt.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir)
    )
    joined = stream_interval_join(
        ls, rs, "user_id", "l_ts", "r_ts", 0, 1800, watermark="720 hours"
    )
    drain(
        joined.select("user_id", "l_id", "r_id")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck),
        "stream_join",
        300,
    )
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"), F.sum("r_id").alias("pair_id_sum"))
        .orderBy("user_id")
    )


_STREAM_NEARDUP_ORACLE = f"""WITH {_MINHASH_CTES}
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
  CASE WHEN x.doc_id % 2 = y.doc_id % 2 THEN 'increment'
       ELSE 'corpus' END AS origin
FROM bands x JOIN bands y
  ON x.band = y.band AND x.band_key = y.band_key
WHERE (x.doc_id % 2 < y.doc_id % 2)
   OR (x.doc_id % 2 = y.doc_id % 2 AND x.doc_id < y.doc_id)
ORDER BY origin, doc_a, doc_b"""


@_q(
    "stream_neardup",
    _STREAM_NEARDUP_ORACLE,
    "STREAMING near-dup detection at ingest: documents arrive in two "
    "micro-batches (arrival class = doc_id % 2, replayed in class "
    "order — two classes exercise everything the claim needs: a probe "
    "against an EXISTING index plus the self-probe; round 8 replayed "
    "three, paying a per-batch banding + index-append round for no "
    "extra assertion); each batch is MinHash-banded, probed against "
    "the PERSISTED band index (broadcast batch, map-only index scan — "
    "the corpus never self-joins) and against itself, then appended to "
    "the index. The drained pair set must equal the batch-mode LSH "
    "collision set oriented by arrival order — earlier class pairs as "
    "'corpus', same-class as 'increment' "
    "(streaming/neardup.streaming_lsh_dedup; state is the append-only "
    "parquet index, no state store).",
    stream=True,
)
def stream_neardup_q(spark, sf_dir):
    import os

    from mongoshake_spark.streaming.neardup import run_streaming_lsh_dedup

    # 8 partitions: each batch's band probe and pair distinct shuffle a
    # batch-sized frame, where 32 near-empty tasks are pure scheduling
    ss = stream_session(spark, 8)
    docs = load_table(ss, sf_dir, "documents").select("doc_id", "text")
    tmp = _stream_tmpdir("sndup_")
    feed = os.path.join(tmp, "feed")
    # one feed file per arrival class, mtime-stamped so the tail admits
    # them in class order (the replay convention, see write_replay_feed)
    _write_class_feed(docs, F.col("doc_id") % 2, 2, feed, tmp)
    pairs = run_streaming_lsh_dedup(
        ss, feed, "doc_id bigint, text string", os.path.join(tmp, "w")
    )
    return pairs.orderBy("origin", "doc_a", "doc_b").localCheckpoint(
        eager=True
    )


from mongoshake_spark.plans.queries.dedup import _PHASH_ORACLE  # noqa: E402


@_q(
    "stream_media_neardup",
    _PHASH_ORACLE,
    "Streaming ingest MEDIA near-dup — the perceptual twin of "
    "stream_neardup: the documents-derived media corpus replays as a "
    "2-micro-batch stream; each batch fingerprints its payloads "
    "(phash64), bands the hashes with the shared 4x16-bit SimHash "
    "machinery, probes the PERSISTED band index (batch bands broadcast "
    "onto a map-only index scan — the corpus never self-joins), pairs "
    "the batch against itself, and appends pairs + bands. Pigeonhole "
    "(Hamming <= 3 < 4 bands) makes the drained pair set EQUAL the "
    "batch dedup_phash result, which this oracle pins bit-for-bit. "
    "Restart-idempotent: replayed batches re-emit the same (doc_a, "
    "doc_b) pairs (streaming/neardup.streaming_phash_dedup).",
    stream=True,
)
def stream_media_neardup_q(spark, sf_dir):
    import shutil

    from mongoshake_spark.operators import multimodal
    from mongoshake_spark.streaming.neardup import streaming_phash_dedup

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_fake_media(docs)
    tmp = _stream_tmpdir("mneardup_")
    feed_dir = f"{tmp}/feed"
    try:
        _write_class_feed(media, F.col("doc_id") % 2, 2, feed_dir, tmp)
        stream = (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        drain(
            streaming_phash_dedup(
                stream, f"{tmp}/index", f"{tmp}/pairs", f"{tmp}/ckpt"
            ),
            "stream_media_neardup",
        )
        return (
            spark.read.parquet(f"{tmp}/pairs")
            .select("doc_a", "doc_b", "hamming")
            .dropDuplicates()
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
