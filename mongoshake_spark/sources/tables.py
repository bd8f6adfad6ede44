"""Snapshot-plane sources (reference full-sync scan surface).

The reference's full sync enumerates namespaces and runs per-collection
parallel range scans (S4/S5/S6: collector/docsyncer/doc_reader.go:29-312,
common/db_opertion.go:311-370). On Spark a parquet/table scan is already
range-split into tasks by the data source, so the splitVector machinery
reduces to: read, and optionally a key-range predicate per logical piece
(``range_scan``).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (applicationId, session identity, path) -> analyzed DataFrame. A
#: DataFrame is an immutable logical plan, so handing the same one to
#: every caller is exactly what a metastore-backed catalog does — without
#: the cache each load pays a parquet footer/schema read plus a py4j
#: round trip (~0.1 s), which across a 90-query workload is seconds of
#: pure re-analysis. Two safety rails: (1) only paths under the
#: IMMUTABLE roots in ``CACHEABLE_ROOTS`` are cached — a cached plan
#: pins its file listing and schema at first load, which is wrong for
#: any path a session might rewrite (mutable paths simply bypass the
#: cache); (2) the cache holds ONE application's entries — a new
#: applicationId clears the previous app's plans, so stopped contexts
#: are never pinned and growth is bounded by the table count.
_TABLE_CACHE: dict = {}
_CACHE_LOCK = None  # created lazily; plain dict get/set are atomic, but
# the miss path iterates + deletes (eviction) and MUST NOT race the
# pooled bench's concurrent inserts ('dictionary changed size during
# iteration' would surface as a phantom query failure)


def _cache_lock():
    global _CACHE_LOCK
    if _CACHE_LOCK is None:
        import threading

        _CACHE_LOCK = threading.Lock()
    return _CACHE_LOCK


def _cacheable_roots() -> tuple:
    """Immutable roots whose scans may be plan-cached. The fixture root is
    the built-in default; deployments extend/replace it via the
    SPARK_GRAFT_CACHE_ROOTS env var (os.pathsep-separated prefixes) —
    a configuration decision, not a hardcoded host path."""
    env = os.environ.get("SPARK_GRAFT_CACHE_ROOTS")
    if env:
        return tuple(p for p in env.split(os.pathsep) if p)
    return ("/root/testdata/",)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a snapshot-plane parquet source — one file or a directory of
    part files — as the engine types it. Full sync (through
    ``load_table``), verify and repair all read sources here, so a copy
    and its source compare column for column.

    TIMESTAMP(NANOS) columns (Spark has no ns type; session reads them as
    long via ``nanosAsLong``) are converted to microsecond timestamps —
    the fixture values are whole microseconds, so this is lossless.
    """
    # Runtime-settable; required so this works on ANY caller's session,
    # not just ours from get_spark().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    schema = (
        pq.read_schema(path)
        if os.path.isfile(path)
        else pq.ParquetDataset(path).schema
    )
    for field in schema:
        if str(field.type) == "timestamp[ns]":
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full-collection scan (S4). Parquet scans arrive pre-split; Catalyst
    pushes filters/projections into the scan (checked in tests via
    ``PushedFilters`` in the formatted plan). Types as ``read_parquet``.
    """
    path = f"{sf_dir}/{name}.parquet"
    cacheable = any(path.startswith(r) for r in _cacheable_roots())
    key = (spark.sparkContext.applicationId, id(spark), path)
    if cacheable:
        with _cache_lock():
            cached = _TABLE_CACHE.get(key)
            if cached is not None:
                return cached
            for k in [k for k in _TABLE_CACHE if k[0] != key[0]]:
                del _TABLE_CACHE[k]
    df = read_parquet(spark, path)
    if cacheable:
        with _cache_lock():
            _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Namespace enumeration (S6): register every fixture table as a temp
    view so the SQL surface (plans/) can reference them by name."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def range_scan(
    df: DataFrame, key: str, lo=None, hi=None, lo_inclusive: bool = False
) -> DataFrame:
    """Range-split piece scan (S5): predicate ``(lo, hi]`` on the split key,
    mirroring doc_reader.go:208-231's boundary readers. The predicate is a
    plain column comparison so it pushes down to parquet min/max pruning —
    at 100 TB each piece prunes to the row groups that can contain its
    range instead of scanning the table.
    """
    if lo is not None:
        df = df.filter(F.col(key) >= lo if lo_inclusive else F.col(key) > lo)
    if hi is not None:
        df = df.filter(F.col(key) <= hi)
    return df


def infer_payload_schema(
    df: DataFrame,
    col: str = "o",
    sample_ratio: float = 1.0,
):
    """Schema inference over a JSON payload column — the
    ``tools/mongodb-schema.py`` gap's user-visible piece re-expressed for
    this engine: MongoShake moves schemaless documents as opaque JSON
    strings (our ``o`` column); downstream SQL wants a typed struct.

    Delegates to Spark's own distributed JSON schema inference (the same
    scan pass ``spark.read.json`` runs): every sampled row is parsed on
    the executors and the per-partition schemas merge associatively, so
    inference over a 100 TB payload column is one map-reduce pass, not a
    driver loop. ``sample_ratio`` < 1 trades completeness for cost the
    way ``spark.sql.sources.samplingRatio`` does — rare keys may be
    missed, exactly the documented Spark trade.

    Returns the inferred ``StructType``. Compose with
    ``transforms.parse_payload`` (or ``F.from_json`` directly) to
    materialize the typed column::

        schema = infer_payload_schema(oplog, "o")
        typed = oplog.withColumn("doc", F.from_json("o", schema))
    """
    ds = df.select(F.col(col).cast("string").alias("v")).filter(
        F.col("v").isNotNull()
    )
    if not 0 < sample_ratio <= 1:
        raise ValueError("infer_payload_schema: sample_ratio must be (0, 1]")
    if sample_ratio < 1.0:
        ds = ds.sample(fraction=sample_ratio, seed=7)
    spark = df.sparkSession
    return spark.read.json(ds.rdd.map(lambda r: r["v"])).schema
