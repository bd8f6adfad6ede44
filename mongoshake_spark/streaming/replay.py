"""Replayable oplog feed — the incremental-plane *source* (S1/S2).

The reference tails `local.oplog.rs` with a resumable cursor
(collector/reader/oplog_reader.go:100-241: `{ts:{$gt: ckpt}}` predicate,
batch 8192, background fetcher). In Spark the equivalent source contract
is: a Structured Streaming source that (a) delivers rows in bounded
micro-batches, (b) supports resume from a recorded offset, (c) pushes the
ts predicate down.

For tests and local runs we materialize the `events`-derived oplog view
as a directory of parquet files ordered by (ts, id) — one file per
micro-batch's worth of rows — and read it with the file stream source
(`maxFilesPerTrigger` = the reference's fetch-batch knob, B7's rate limit).
In production the same pipeline binds to the Spark-Mongo connector's
change-stream `readStream` or a Kafka topic carrying the oplog (S8/S12) —
only this module changes, nothing downstream.
"""

from __future__ import annotations

import json
import math
import os

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
    """Materialize the oplog view as N parquet files, each holding one
    contiguous (ts, id) range — the replayable feed. Returns file count.

    repartitionByRange on the stream order keeps each file a clean time
    slice, so `maxFilesPerTrigger=1` replays the stream in order, which is
    what the per-key ordering guarantees downstream assume (P1/P2).
    """
    oplog = oplog_view(load_table(spark, sf_dir, "events"))
    total = oplog.count()
    n_files = max(1, math.ceil(total / batch_rows))
    (
        oplog.repartitionByRange(n_files, "ts", "id")
        .sortWithinPartitions("ts", "id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # The file stream source admits files oldest-mtime-first; files written
    # in one job share an mtime, leaving their order arbitrary. The oplog
    # is a totally ordered stream, so stamp strictly increasing mtimes in
    # range order (part-00000 = lowest (ts, id) range) to make the replay
    # deterministic.
    parts = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    import time as _time

    base = _time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(out_dir, f), (base + i, base + i))
    return len(parts)


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
