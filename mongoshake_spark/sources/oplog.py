"""CDC-view derivation — the oplog-stream stand-in over the `events` fixture.

The reference's incremental plane consumes rows shaped like ``ParsedLog``
(/root/reference/oplog/oplog.go:24-41: ts, op in {i,u,d,c,n}, ns "db.coll",
o payload, o2 filter). The driver's synthetic ``events`` table is mapped to
that shape deterministically (FIXTURES.md §2.1, SURVEY §2.9 Q0) so every
downstream operator (filters, hashers, batcher, merge kernel) is exercised
and DuckDB can recompute the identical view as the oracle.

Mapping (identical in Spark and the DuckDB oracle — both derive from the
same fixture, so correctness of the mapping itself is oracle-checked as Q0):
  click -> 'i' (insert), view -> 'u' (update), purchase -> 'd' (delete),
  signup -> 'c' (command/DDL), anything else -> 'n' (noop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Shared neutral SQL fragment: valid in both Spark SQL and DuckDB.
OPLOG_VIEW_SQL = """
SELECT event_id AS id, ts, user_id,
       CASE WHEN event_type = 'click'    THEN 'i'
            WHEN event_type = 'view'     THEN 'u'
            WHEN event_type = 'purchase' THEN 'd'
            WHEN event_type = 'signup'   THEN 'c'
            ELSE 'n' END AS op,
       concat('db', CAST(user_id % 4 AS STRING), '.c', CAST(user_id % 16 AS STRING)) AS ns,
       value, props AS o
FROM events
"""

# DuckDB dialect shim: CAST(.. AS STRING) -> VARCHAR (FIXTURES.md §3).
OPLOG_VIEW_SQL_DUCKDB = OPLOG_VIEW_SQL.replace("AS STRING", "AS VARCHAR")


def oplog_view(events: DataFrame) -> DataFrame:
    """Q0 as a DataFrame transform: events -> oplog-shaped rows.

    Pure column expressions: stays inside whole-stage codegen, no UDF, no
    shuffle — at 100 TB this is a map-only stage fused into the scan.
    """
    op = (
        F.when(F.col("event_type") == "click", "i")
        .when(F.col("event_type") == "view", "u")
        .when(F.col("event_type") == "purchase", "d")
        .when(F.col("event_type") == "signup", "c")
        .otherwise("n")
    )
    ns = F.concat(
        F.lit("db"),
        (F.col("user_id") % 4).cast("string"),
        F.lit(".c"),
        (F.col("user_id") % 16).cast("string"),
    )
    return events.select(
        F.col("event_id").alias("id"),
        F.col("ts"),
        F.col("user_id"),
        op.alias("op"),
        ns.alias("ns"),
        F.col("value"),
        F.col("props").alias("o"),
    )


# ---------------------------------------------------------------------------
# chunks fixture — shard chunk-range table for the orphan filter (F6, Q7).
# Models sharding.ShardCollection ranges
# (/root/reference/sharding/sharding_operation.go:55-71): deterministic 8-way
# even split of lineitem.l_orderkey, chunks alternating between two shards.
# ---------------------------------------------------------------------------

def chunks_view(spark: SparkSession, lineitem: DataFrame) -> DataFrame:
    """Build the chunk-range dimension. Tiny (8 rows) by construction —
    chunk maps are metadata, so the consumer (orphan filter) broadcasts it.
    """
    max_key = lineitem.agg(F.max("l_orderkey").alias("m"))
    df = (
        max_key.select(
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("g"),
            ((F.col("m") / F.lit(8)).cast("bigint") + F.lit(1)).alias("w"),
        )
        .select(
            F.lit("tpch.lineitem").alias("ns"),
            F.concat(F.lit("shard"), (F.col("g") % 2).cast("string")).alias("shard"),
            (F.col("g") * F.col("w")).alias("min_key"),
            ((F.col("g") + 1) * F.col("w")).alias("max_key"),
        )
    )
    df.createOrReplaceTempView("chunks")
    return df


CHUNKS_VIEW_SQL_DUCKDB = """
SELECT 'tpch.lineitem' AS ns,
       concat('shard', CAST(g % 2 AS VARCHAR)) AS shard,
       g * w     AS min_key,
       (g + 1) * w AS max_key
FROM (SELECT UNNEST(RANGE(0, 8)) AS g,
             (SELECT CAST(max(l_orderkey) // 8 AS BIGINT) + 1 FROM lineitem) AS w)
"""


def hashed_chunks_view(spark: SparkSession) -> DataFrame:
    """Chunk ranges for a HASHED-shard collection: 8 even slices of the
    int64 hash space [-2^63, 2^63), alternating between two shards, with
    the first min and last max as the reference's MinKey/MaxKey sentinel
    encoding (math.MinInt64 / math.MaxInt64, orphan_filter.go:219-225) so
    the BSON type-order comparator path is exercised.

    Arithmetic note: bounds are written (g - 4) * 2^61 — the direct form
    -2^63 + g*2^61 overflows int64 multiplication for g >= 4 under ANSI
    mode; -2^63 is exactly -4 * 2^61 so the shifted form is equal and
    in-range at every g.
    """
    w = 1 << 61
    g = F.col("id")
    return spark.range(8).select(
        F.lit("tpch.lineitem").alias("ns"),
        F.concat(F.lit("shard"), (g % 2).cast("string")).alias("shard"),
        ((g - 4) * F.lit(w)).alias("min_key"),
        F.when(g == 7, F.lit((1 << 63) - 1))
        .otherwise((g - 3) * F.lit(w))
        .alias("max_key"),
    )


HASHED_CHUNKS_SQL_DUCKDB = """
SELECT 'tpch.lineitem' AS ns,
       concat('shard', CAST(g % 2 AS VARCHAR)) AS shard,
       (g - 4) * 2305843009213693952 AS min_key,
       CASE WHEN g = 7 THEN 9223372036854775807
            ELSE (g - 3) * 2305843009213693952 END AS max_key
FROM (SELECT UNNEST(RANGE(0, 8)) AS g)
"""
