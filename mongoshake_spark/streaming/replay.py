"""Replayable feeds — the incremental-plane *source* (S1/S2), and the one
place that knows the feed convention every stream query replays through.

The reference tails `local.oplog.rs` with a resumable cursor
(collector/reader/oplog_reader.go:100-241: `{ts:{$gt: ckpt}}` predicate,
batch 8192, background fetcher). In Spark the equivalent source contract
is: a Structured Streaming source that (a) delivers rows in bounded
micro-batches, (b) supports resume from a recorded offset, (c) pushes the
ts predicate down.

For tests and local runs a feed is a directory of parquet files, one per
micro-batch, each holding one contiguous range of the stream order and
stamped with strictly increasing mtimes in that order; the file stream
source admits files oldest-mtime-first, so reading it with
`maxFilesPerTrigger` = 1 (the reference's fetch-batch knob, B7's rate
limit) replays the stream in order. :func:`write_feed` writes a ranged
feed and :func:`stamp_feed` orders any set of feed files;
:func:`read_oplog_stream` tails one. The oplog feed
(:func:`write_replay_feed`) and every stream query's own feed (the
registry's q31, q37, session windows, enrichment, joins, near-dup and ANN
streams) go through them. In production the same pipeline binds to the
Spark-Mongo connector's change-stream `readStream` or a Kafka topic
carrying the oplog (S8/S12) — only this module changes, nothing
downstream.
"""

from __future__ import annotations

import json
import math
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructField, StructType

from mongoshake_spark.sources.oplog import oplog_view
from mongoshake_spark.sources.tables import load_table

#: the footer key under which Spark's parquet writer records its schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Matches incr_sync.adaptive.batching_max_size=1024 (conf/collector.conf:290)
DEFAULT_BATCH_ROWS = 1024


def write_replay_feed(
    spark: SparkSession, sf_dir: str, out_dir: str, batch_rows: int = DEFAULT_BATCH_ROWS
) -> int:
    """Materialize the oplog view as the replay feed: one file per
    ``batch_rows`` rows, each one contiguous (ts, id) range, which is the
    per-key order the apply kernel assumes downstream (P1/P2). Returns
    the file count."""
    oplog = oplog_view(load_table(spark, sf_dir, "events"))
    n_files = max(1, math.ceil(oplog.count() / batch_rows))
    return write_feed(oplog, out_dir, n_files, "ts", "id")


def write_feed(df: DataFrame, out_dir: str, n_files: int, *order: str) -> int:
    """Write ``df`` to ``out_dir`` as a feed of (at most) ``n_files``
    parquet files, each holding one contiguous range of ``order`` sorted
    within, and stamp them in range order (:func:`stamp_feed`), so
    ``maxFilesPerTrigger=1`` replays ``df`` in ``order``. Returns the
    file count."""
    (
        df.repartitionByRange(n_files, *order)
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # range partition i is written as part-i: lexical order is range order
    parts = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    stamp_feed(out_dir, parts)
    return len(parts)


def stamp_feed(feed_dir: str, files: list[str]) -> None:
    """Stamp the feed ``files`` (names under ``feed_dir``) with strictly
    increasing mtimes in list order. The file stream source admits files
    oldest-mtime-first, and files written in one job share an mtime,
    leaving their order arbitrary: a replay must not deliver a later
    range (a transaction's commit, a re-crawl copy) before an earlier
    one."""
    base = time.time() - len(files) - 10
    for i, f in enumerate(files):
        os.utime(os.path.join(feed_dir, f), (base + i, base + i))


def read_oplog_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S1 as a streaming DataFrame: file-source tail of the replay feed.
    `maxFilesPerTrigger` bounds each micro-batch (B1 adaptive batching /
    B7 rate limit — the reference's batching_max_size and QoS collapse
    into this one admission knob). The schema is read on the driver from
    one feed file's footer, as Spark's own inference reads it (the Spark
    schema its writer recorded, else the Arrow types; every column
    nullable): building the stream runs no Spark job."""
    files = sorted(
        f for f in os.listdir(feed_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not files:
        raise FileNotFoundError(
            f"replay feed {feed_dir} holds no parquet file to take the "
            "stream's schema from"
        )
    arrow = pq.read_schema(os.path.join(feed_dir, files[0]))
    recorded = (arrow.metadata or {}).get(SPARK_SCHEMA_KEY)
    footer = (
        StructType.fromJson(json.loads(recorded))
        if recorded else from_arrow_schema(arrow)
    )
    schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in footer]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )
