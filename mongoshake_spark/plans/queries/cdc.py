"""Registry domain: cdc (split from plans/queries.py; registration order preserved within the file)."""

from __future__ import annotations

from mongoshake_spark.plans.queries._shared import (  # noqa: F401
    F,
    HASHED_CHUNKS_SQL_DUCKDB,
    Window,
    _CHUNKS_CTE,
    _O,
    _oplog,
    _q,
    _stream_tmpdir,
    chunks_view,
    combiner,
    dedup,
    filters,
    hashed_chunks_view,
    load_table,
    merge,
    range_scan,
    transforms,
)
from mongoshake_spark.streaming.drain import drain, stream_session



# ---------------------------------------------------------------------------
# Q0-Q24 — the MongoShake operator surface (SURVEY §2.9)
# ---------------------------------------------------------------------------

@_q(
    "q0_oplog_view",
    _O + "SELECT id, ts, user_id, op, ns, value, o FROM oplog_v ORDER BY id",
    "Q0: the CDC view derivation itself (sources/oplog.py).",
)
def q0(spark, sf_dir):
    return _oplog(spark, sf_dir).orderBy("id")


@_q(
    "q1_resume_scan",
    _O
    + """SELECT id, ts, op, ns FROM oplog_v
WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
ORDER BY ts, id LIMIT 1000""",
    "Q1 (S1/S2/N2/B1): resume-from-checkpoint scan — ts predicate pushed to source.",
)
def q1(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .filter(F.col("ts") > F.lit("2024-01-02 00:00:00").cast("timestamp"))
        .select("id", "ts", "op", "ns")
        .orderBy("ts", "id")
        .limit(1000)
    )


@_q(
    "q2_range_scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_orderkey > 1000 AND l_orderkey <= 3000
ORDER BY l_orderkey, l_linenumber""",
    "Q2 (S4/S5/W11): range-split full-scan piece (lo, hi] on the split key.",
)
def q2(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        range_scan(li, "l_orderkey", lo=1000, hi=3000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@_q(
    "q3_op_classify",
    _O
    + """SELECT op, CASE WHEN op = 'c' THEN 'ddl' WHEN op = 'n' THEN 'noop' ELSE 'dml' END AS class,
       count(*) AS cnt
FROM oplog_v GROUP BY 1, 2 ORDER BY 1, 2""",
    "Q3 (F1/F5/F7/N8): op classification & noop/DDL routing.",
)
def q3(spark, sf_dir):
    df = _oplog(spark, sf_dir)
    cls = (
        F.when(filters.is_ddl(), "ddl")
        .when(F.col("op") == "n", "noop")
        .otherwise("dml")
    )
    return (
        df.withColumn("class", cls)
        .groupBy("op", "class")
        .agg(F.count("*").alias("cnt"))
        .orderBy("op", "class")
    )


@_q(
    "q4_system_ns_filter",
    _O
    + """SELECT count(*) AS kept FROM oplog_v
WHERE (ns = 'db1.$cmd')
   OR NOT (ns LIKE 'db0.%' OR ns LIKE 'db1.%')""",
    "Q4 (F2): system-namespace drop with allowlist priority.",
)
def q4(spark, sf_dir):
    df = _oplog(spark, sf_dir)
    keep = filters.keep_not_autologous(
        prefixes=("db0.", "db1."), substrings=(), allowlist=("db1.$cmd",)
    )
    return filters.filter_chain(df, keep).agg(F.count("*").alias("kept"))


@_q(
    "q5_gid_filter",
    _O + "SELECT count(*) AS cnt FROM oplog_v WHERE user_id % 10 IN (1, 3, 5)",
    "Q5 (F3/S3): gid set-membership filter.",
)
def q5(spark, sf_dir):
    df = _oplog(spark, sf_dir).withColumn("g", (F.col("user_id") % 10).cast("string"))
    return filters.filter_chain(df, filters.keep_gid(["1", "3", "5"])).agg(
        F.count("*").alias("cnt")
    )


@_q(
    "q6_ns_whitelist",
    _O
    + r"""SELECT ns, count(*) AS cnt FROM oplog_v
WHERE regexp_matches(ns, '^(db1|db2\.c5)$|^(db1\.|db2\.c5\.).*$')
  AND NOT regexp_matches(ns, '^(db1\.c9)$|^(db1\.c9\.).*$')
GROUP BY ns ORDER BY ns""",
    "Q6 (F4): white/black namespace regex compiled as the reference does.",
)
def q6(spark, sf_dir):
    df = _oplog(spark, sf_dir)
    keep = filters.keep_namespace(whitelist=["db1", "db2.c5"], blacklist=["db1.c9"])
    return (
        filters.filter_chain(df, keep)
        .groupBy("ns")
        .agg(F.count("*").alias("cnt"))
        .orderBy("ns")
    )


@_q(
    "q7_orphan_filter",
    "WITH " + _CHUNKS_CTE
    + """SELECT count(*) AS owned FROM lineitem l
WHERE EXISTS (SELECT 1 FROM chunks c
              WHERE c.ns = 'tpch.lineitem'
                AND l.l_orderkey >= c.min_key AND l.l_orderkey < c.max_key
                AND c.shard = 'shard0')""",
    "Q7 (F6): orphan filter = broadcast range semi-join against the chunk map.",
)
def q7(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    chunks = chunks_view(spark, li)
    owned = filters.orphan_filter(li, chunks, "l_orderkey", "tpch.lineitem", "shard0")
    return owned.agg(F.count("*").alias("owned"))


# Oracle twins of operators/filters.mongo_shard_key_hash (string branch) and
# bson_lt, for the hashed-shard orphan filter. The md5 input is rebuilt as a
# VARCHAR: every byte of the string-branch payload is < 0x80 (seed/tag/len
# bytes, ASCII key), so chr()-concatenation reproduces the exact byte stream
# DuckDB's md5(VARCHAR) hashes. Constraint: key byte-length <= 126.
_Q30_MD5 = (
    "md5(repeat(chr(0), 4) || chr(15) || repeat(chr(0), 3) || "
    "chr(CAST(strlen(sk) + 1 AS INTEGER)) || repeat(chr(0), 3) || sk || chr(0))"
)


def _q30_byte(i: int) -> str:
    hexv = lambda j: f"(strpos('0123456789abcdef', substr(d, {j}, 1)) - 1)"  # noqa: E731
    return f"CAST({hexv(2 * i + 1)} * 16 + {hexv(2 * i + 2)} AS HUGEINT)"


_Q30_ACC = " + ".join(f"{_q30_byte(i)} * {1 << (8 * i)}" for i in range(8))


def _q30_rank(v: str) -> str:
    return (
        f"CASE WHEN {v} = -9223372036854775808 THEN 0 "
        f"WHEN {v} = 9223372036854775807 THEN 100 ELSE 10 END"
    )


def _q30_lt(x: str, y: str) -> str:
    return (
        f"CASE WHEN {_q30_rank(x)} <> {_q30_rank(y)} "
        f"THEN {_q30_rank(x)} < {_q30_rank(y)} "
        f"ELSE {_q30_rank(x)} = 10 AND CAST({x} AS DOUBLE) < CAST({y} AS DOUBLE) END"
    )


_Q30_ORACLE = f"""WITH chunks AS ({HASHED_CHUNKS_SQL_DUCKDB}),
hx AS (
  SELECT l_returnflag, {_Q30_MD5} AS d
  FROM (SELECT l_returnflag, CAST(l_orderkey AS VARCHAR) AS sk FROM lineitem)),
hv AS (
  SELECT l_returnflag,
         CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
              ELSE u END AS BIGINT) AS h
  FROM (SELECT l_returnflag, {_Q30_ACC} AS u FROM hx))
SELECT l_returnflag, count(*) AS owned
FROM hv
WHERE EXISTS (SELECT 1 FROM chunks c
              WHERE c.ns = 'tpch.lineitem' AND c.shard = 'shard0'
                AND NOT ({_q30_lt('h', 'c.min_key')})
                AND ({_q30_lt('h', 'c.max_key')}))
GROUP BY l_returnflag ORDER BY l_returnflag"""


@_q(
    "q30_orphan_hashed",
    _Q30_ORACLE,
    "F6 hashed-shard mode: Mongo md5 key hash (orphan_filter.go:94-135) + "
    "BSON type-ordered chunk compare with MinKey/MaxKey sentinels (:150-245).",
)
def q30(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "sk", F.col("l_orderkey").cast("string")
    )
    owned = filters.orphan_filter(
        li, hashed_chunks_view(spark), "sk", "tpch.lineitem", "shard0",
        shard_type="hashed",
    )
    return (
        owned.groupBy("l_returnflag")
        .agg(F.count("*").alias("owned"))
        .orderBy("l_returnflag")
    )


@_q(
    "q8_event_normalize",
    _O
    + """SELECT id, CASE op WHEN 'i' THEN o ELSE NULL END AS full_doc,
       CASE WHEN op = 'u' THEN concat('{"$set":', o, '}') ELSE NULL END AS update_doc
FROM oplog_v WHERE op IN ('i','u') ORDER BY id LIMIT 500""",
    "Q8 (N1): change-stream -> oplog normalization as a CASE projection.",
)
def q8(spark, sf_dir):
    df = _oplog(spark, sf_dir).filter(F.col("op").isin("i", "u"))
    return (
        df.select(
            "id",
            F.when(F.col("op") == "i", F.col("o")).alias("full_doc"),
            F.when(
                F.col("op") == "u",
                F.concat(F.lit('{"$set":'), F.col("o"), F.lit("}")),
            ).alias("update_doc"),
        )
        .orderBy("id")
        .limit(500)
    )


@_q(
    "q9_partition_roundtrip",
    _O
    + """SELECT CAST(user_id % 8 AS INT) AS partition, count(*) AS cnt,
       round(CAST(sum(value) AS DOUBLE), 2) AS chk
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "Q9 (S8/S12): sink encode/decode round trip — per-partition count/checksum.",
)
def q9(spark, sf_dir):
    df = _oplog(spark, sf_dir)
    return (
        df.groupBy((F.col("user_id") % F.lit(8)).cast("int").alias("partition"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("chk"))
        .orderBy("partition")
    )


@_q(
    "q10_insert_dedup",
    _O
    + """SELECT user_id, max(ts) AS last_ts, count(*) AS versions
FROM oplog_v WHERE op = 'i' GROUP BY user_id ORDER BY user_id""",
    "Q10 (W2/W5): insert with dup-key->update — last writer wins per key.",
)
def q10(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .filter(F.col("op") == "i")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"), F.count("*").alias("versions"))
        .orderBy("user_id")
    )


@_q(
    "q11_update_merge",
    _O
    + """SELECT user_id, arg_max(value, id) AS final_value
FROM oplog_v WHERE op IN ('i','u') GROUP BY user_id ORDER BY user_id""",
    "Q11 (W3): update-merge last-state reconstruction (max_by/arg_max).",
)
def q11(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .filter(F.col("op").isin("i", "u"))
        .groupBy("user_id")
        .agg(F.expr("max_by(value, id)").alias("final_value"))
        .orderBy("user_id")
    )


@_q(
    "q12_delete_tombstones",
    _O
    + """SELECT count(*) AS survivors FROM (
  SELECT user_id, arg_max(op, id) AS last_op FROM oplog_v GROUP BY user_id
) t WHERE last_op <> 'd'""",
    "Q12 (W4): delete tombstones — surviving keys only.",
)
def q12(spark, sf_dir):
    last = (
        _oplog(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.expr("max_by(op, id)").alias("last_op"))
    )
    return last.filter(F.col("last_op") != "d").agg(F.count("*").alias("survivors"))


@_q(
    "q13_cdc_materialize",
    _O
    + """SELECT user_id, arg_max(value, id) AS value FROM oplog_v
WHERE op IN ('i','u','d') GROUP BY user_id
HAVING arg_max(op, id) <> 'd' ORDER BY user_id""",
    "Q13 (W2-W4 composed): full CDC MERGE materialization — the flagship.",
)
def q13(spark, sf_dir):
    return merge.last_writer_wins(_oplog(spark, sf_dir)).orderBy("user_id")


@_q(
    "q14_replicated_join",
    """SELECT c.c_mktsegment, count(*) AS orders_cnt, round(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    "Q14 (S7): replicated tables join clean — broadcast dim join.",
)
def q14(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("orders_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "q15_ns_rename",
    _O
    + """SELECT CASE WHEN ns LIKE 'db0.%' THEN concat('tgt0.', substr(ns, 5)) ELSE ns END AS ns_out,
       count(*) AS cnt
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "Q15 (N4): namespace rename projection, first-match rule list.",
)
def q15(spark, sf_dir):
    df = _oplog(spark, sf_dir)
    renamed = transforms.ns_transform(F.col("ns"), [("db0", "tgt0")])
    return (
        df.select(renamed.alias("ns_out"))
        .groupBy("ns_out")
        .agg(F.count("*").alias("cnt"))
        .orderBy("ns_out")
    )


@_q(
    "q16_delta_updates",
    _O
    + """SELECT op, count(*) AS cnt, CAST(sum(length(o)) AS BIGINT) AS payload
FROM oplog_v WHERE op = 'u' GROUP BY op ORDER BY op""",
    "Q16 (N7/W3): $set/$unset delta application — payload accounting.",
)
def q16(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .filter(F.col("op") == "u")
        .groupBy("op")
        .agg(F.count("*").alias("cnt"), F.sum(F.length("o")).alias("payload"))
        .orderBy("op")
    )


@_q(
    "q17_hash_partition",
    _O
    + """SELECT CAST(user_id % 8 AS INT) AS worker, count(*) AS cnt
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "Q17 (P1/P2): hash partition assignment stability/balance.",
)
def q17(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .groupBy((F.col("user_id") % F.lit(8)).cast("int").alias("worker"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("worker")
    )


@_q(
    "q18_write_groups",
    _O
    + """SELECT ns, op, CAST((rn - 1) // 1000 AS BIGINT) AS grp, count(*) AS cnt FROM (
  SELECT ns, op, row_number() OVER (PARTITION BY ns, op ORDER BY ts, id) AS rn
  FROM oplog_v) t
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "Q18 (W1): adjacent (ns,op) write-grouping with 1000-row caps.",
)
def q18(spark, sf_dir):
    grouped = combiner.write_groups(_oplog(spark, sf_dir))
    return (
        grouped.groupBy("ns", "op", "grp")
        .agg(F.count("*").alias("cnt"))
        .orderBy("ns", "op", "grp")
    )


@_q(
    "q19_ddl_barriers",
    _O
    + """SELECT barrier_id, count(*) AS rows_in_segment FROM (
  SELECT id, CAST(sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END)
           OVER (ORDER BY ts, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS barrier_id
  FROM oplog_v) t
GROUP BY 1 ORDER BY 1""",
    "Q19 (B2): DDL barrier segmentation — batch id increments at each 'c'.",
)
def q19(spark, sf_dir):
    seg = combiner.ddl_barriers(_oplog(spark, sf_dir))
    return (
        seg.groupBy("barrier_id")
        .agg(F.count("*").alias("rows_in_segment"))
        .orderBy("barrier_id")
    )


@_q(
    "q20_txn_reassembly",
    _O
    + """SELECT user_id AS lsid, count(*) AS ops, min(ts) AS begin_ts, max(ts) AS commit_ts
FROM oplog_v WHERE op IN ('i','u','d') GROUP BY user_id
HAVING count(*) > 1 ORDER BY lsid LIMIT 200""",
    "Q20 (B3/B4): transaction reassembly — group by session, emit on commit.",
)
def q20(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .filter(F.col("op").isin("i", "u", "d"))
        .groupBy(F.col("user_id").alias("lsid"))
        .agg(
            F.count("*").alias("ops"),
            F.min("ts").alias("begin_ts"),
            F.max("ts").alias("commit_ts"),
        )
        .filter(F.col("ops") > 1)
        .orderBy("lsid")
        .limit(200)
    )


@_q(
    "q21_delay_gate",
    _O
    + """SELECT count(*) AS shipped FROM oplog_v
WHERE ts <= (SELECT max(ts) FROM oplog_v) - INTERVAL 1 HOUR
  AND ts <= (SELECT min(ts) FROM oplog_v) + INTERVAL 30 DAY""",
    "Q21 (B5 + B6): target-delay gate composed with the exit-point cutoff "
    "(batcher.go:199-267, 218-236) — ship rows older than the delay AND "
    "not past the user-set exit ts.",
)
def q21(spark, sf_dir):
    feed = _oplog(spark, sf_dir)
    exit_ts = feed.agg(
        F.expr("min(ts) + INTERVAL 30 DAY").alias("x")
    ).first()["x"]
    gated = combiner.delay_gate(feed, "INTERVAL 1 HOUR")
    return combiner.exit_point(gated, exit_ts).agg(F.count("*").alias("shipped"))


@_q(
    "q22_min_ack_checkpoint",
    _O
    + """SELECT min(ack) AS checkpoint FROM (
  SELECT user_id % 8 AS worker, max(ts) AS ack FROM oplog_v GROUP BY 1) t""",
    "Q22 (A1): min-ack checkpoint aggregation across workers.",
)
def q22(spark, sf_dir):
    acks = (
        _oplog(spark, sf_dir)
        .groupBy((F.col("user_id") % F.lit(8)).alias("worker"))
        .agg(F.max("ts").alias("ack"))
    )
    return acks.agg(F.min("ack").alias("checkpoint"))


@_q(
    "q23_windowed_tps",
    _O
    + """SELECT date_trunc('hour', ts) AS h, count(*) AS tps_numerator
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "Q23 (A2/A4): windowed TPS metric.",
)
def q23(spark, sf_dir):
    return (
        _oplog(spark, sf_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("tps_numerator"))
        .orderBy("h")
    )


@_q(
    "q24_top3_ns_per_op",
    _O
    + """SELECT op, ns, cnt FROM (
  SELECT op, ns, count(*) AS cnt,
         row_number() OVER (PARTITION BY op ORDER BY count(*) DESC, ns) AS rk
  FROM oplog_v GROUP BY op, ns) t
WHERE rk <= 3 ORDER BY op, rk""",
    "Q24 (A3): top-3 namespaces per op.",
)
def q24(spark, sf_dir):
    counts = _oplog(spark, sf_dir).groupBy("op", "ns").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("op").orderBy(F.col("cnt").desc(), F.col("ns").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("op", "rk")
        .select("op", "ns", "cnt")
    )


@_q(
    "q25_payload_extract",
    _O
    + """SELECT user_id, max(CAST(json_extract_string(o, '$.k') AS INT)) AS max_k,
       count(*) AS n_payloads
FROM oplog_v WHERE op IN ('i','u') GROUP BY user_id ORDER BY user_id""",
    "N2 payload parse: extract a field from the dynamic JSON document "
    "(from_json/get_json_object <-> DuckDB json_extract_string).",
)
def q25_payload(spark, sf_dir):
    df = _oplog(spark, sf_dir).filter(F.col("op").isin("i", "u"))
    k = F.get_json_object(F.col("o"), "$.k").cast("int")
    return (
        df.groupBy("user_id")
        .agg(F.max(k).alias("max_k"), F.count("*").alias("n_payloads"))
        .orderBy("user_id")
    )


@_q(
    "q26_salted_agg",
    _O
    + """SELECT ns, count(*) AS cnt, round(CAST(sum(value) AS DOUBLE), 2) AS total
FROM oplog_v GROUP BY ns ORDER BY ns""",
    "Skew-resistant two-phase salted aggregation — identical results to the "
    "oracle's direct GROUP BY (hot-key mitigation for P1's per-ns routing).",
)
def q26_salted(spark, sf_dir):
    from mongoshake_spark.operators.skew import salted_agg

    out = salted_agg(
        _oplog(spark, sf_dir),
        ["ns"],
        {
            "cnt": (F.count("*"), F.sum("cnt")),
            "_sum": (F.sum("value"), F.sum("_sum")),
        },
    )
    return out.select(
        "ns", "cnt", F.round(F.col("_sum"), 2).alias("total")
    ).orderBy("ns")


@_q(
    "q27_delta_roundtrip",
    _O
    + """SELECT user_id,
       max(CAST(json_extract_string(o, '$.k') AS INT)) AS k_max,
       count(*) AS n_updates
FROM oplog_v WHERE op = 'u' GROUP BY user_id ORDER BY user_id""",
    "N7 end-to-end: payloads are re-encoded as $v:2 diff documents, pushed "
    "through normalize_delta_update, and the recovered $set values must "
    "equal what the oracle reads from the original JSON directly.",
)
def q27_delta_roundtrip(spark, sf_dir):
    df = _oplog(spark, sf_dir).filter(F.col("op") == "u")
    # encode the real payload as a $v:2 delta-update document ...
    v2 = F.concat(
        F.lit('{"$v":2,"diff":{"u":{"k":"'),
        F.get_json_object(F.col("o"), "$.k"),
        F.lit('"}}}'),
    )
    encoded = df.withColumn("o", v2)
    # ... and recover it through the normalizer (the operator under test)
    normalized = transforms.normalize_delta_update(encoded)
    k = F.element_at(F.col("set_map"), "k").cast("int")
    return (
        normalized.groupBy("user_id")
        .agg(F.max(k).alias("k_max"), F.count("*").alias("n_updates"))
        .orderBy("user_id")
    )


@_q(
    "q36_applyops_roundtrip",
    _O
    + """SELECT op, count(*) AS cnt, count(DISTINCT user_id) AS nu,
       CAST(sum(length(o)) AS BIGINT) AS o_len_sum
FROM oplog_v WHERE op IN ('i', 'u', 'd') GROUP BY op ORDER BY op""",
    "N9 GatherApplyOps -> B4 flattening roundtrip (oplog/oplog.go:231-272, "
    "txn_buffer.go:318-361): CRUD rows wrapped per-user into applyOps "
    "command documents, then exploded back; the multiset of (op, payload) "
    "per user must survive byte-for-byte (count, user spread, payload "
    "length checksum).",
)
def q36_applyops(spark, sf_dir):
    base = _oplog(spark, sf_dir).filter(F.col("op").isin("i", "u", "d"))
    wrapped = transforms.gather_apply_ops(
        base.select("user_id", "op", "ns", "o"), ["user_id"]
    )
    flat = transforms.flatten_apply_ops(wrapped)
    return (
        flat.groupBy("op")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("nu"),
            F.sum(F.length("o")).alias("o_len_sum"),
        )
        .orderBy("op")
    )


@_q(
    "q35_db_fanout",
    _O
    + """, f AS (
  SELECT id, split_part(ns, '.', 1) AS db,
         substr(ns, length(split_part(ns, '.', 1)) + 1) AS rest
  FROM oplog_v
), e AS (
  SELECT id,
         unnest(CASE WHEN db = 'db0' THEN ['db0_a', 'db0_b']
                     WHEN db = 'db2' THEN ['db2x']
                     ELSE [db] END) || rest AS ns
  FROM f
)
SELECT ns, count(*) AS cnt, CAST(sum(id) AS BIGINT) AS id_sum
FROM e GROUP BY ns ORDER BY ns""",
    "N5 DBTransform fanout (transform.go:43-71): db-level 1->N routing — "
    "db0 rows duplicate into db0_a and db0_b, db2 renames to db2x, the "
    "rest pass through; per-target-ns count and id checksum.",
)
def q35_db_fanout(spark, sf_dir):
    fanned = transforms.db_fanout(
        _oplog(spark, sf_dir), {"db0": ["db0_a", "db0_b"], "db2": ["db2x"]}
    )
    return (
        fanned.groupBy("ns")
        .agg(F.count("*").alias("cnt"), F.sum("id").alias("id_sum"))
        .orderBy("ns")
    )


@_q(
    "q34_dbref_rewrite",
    _O
    + """SELECT id, user_id,
       '{"a":' || json_extract_string(o, '$.k') ||
       ',"ref":{"$ref":"c' || CAST(id % 3 AS VARCHAR) ||
       '","$db":"' || CASE WHEN user_id % 2 = 1 THEN 'tgt1' ELSE 'db0' END ||
       '","$id":' || CAST(id AS VARCHAR) ||
       '},"refs":[{"$ref":"t","$db":"tgt1"}]}' AS o
FROM oplog_v WHERE op = 'u' ORDER BY id""",
    "N6 TransformDBRef (transform.go:73-106): payloads re-encoded with "
    "DBRef sub-documents at top level AND inside an array; the recursive "
    "rewrite must rename only refs whose db matches the rule (db1->tgt1), "
    "byte-for-byte against the oracle's reconstruction.",
)
def q34_dbref(spark, sf_dir):
    base = _oplog(spark, sf_dir).filter(F.col("op") == "u")
    k = F.get_json_object(F.col("o"), "$.k")
    coll = F.concat(F.lit("c"), (F.col("id") % 3).cast("string"))
    db = F.concat(F.lit("db"), (F.col("user_id") % 2).cast("string"))
    o = F.concat(
        F.lit('{"a":'),
        k,
        F.lit(',"ref":{"$ref":"'),
        coll,
        F.lit('","$db":"'),
        db,
        F.lit('","$id":'),
        F.col("id").cast("string"),
        F.lit('},"refs":[{"$ref":"t","$db":"db1"}]}'),
    )
    out = transforms.transform_dbref(base.withColumn("o", o), [("db1", "tgt1")])
    return out.select("id", "user_id", "o").orderBy("id")


@_q(
    "q33_delta_nested",
    _O
    + """SELECT id, user_id,
       '{"arr":{"$resize":3},"k":"' || json_extract_string(o, '$.k') ||
       '","meta.deep.lvl":"' || CAST(user_id % 5 AS VARCHAR) ||
       '","meta.tag":"' || CAST(id % 7 AS VARCHAR) || '"}' AS set_json,
       '["meta.junk","old"]' AS unset_json
FROM oplog_v WHERE op = 'u' ORDER BY id""",
    "N7 full nested form (oplog/oplog.go:281-372 recursion): payloads are "
    "re-encoded as $v:2 diffs with s-field descent two levels deep, a "
    "top-level delete, a nested delete, and an array-resize l section; "
    "normalize_delta_update_full must emit the canonical dotted-path "
    "$set/$unset the oracle reconstructs from the original JSON.",
)
def q33_delta_nested(spark, sf_dir):
    df = _oplog(spark, sf_dir).filter(F.col("op") == "u")
    k = F.get_json_object(F.col("o"), "$.k")
    tag = (F.col("id") % F.lit(7)).cast("string")
    lvl = (F.col("user_id") % F.lit(5)).cast("string")
    v2 = F.concat(
        F.lit('{"$v":2,"diff":{"u":{"k":"'),
        k,
        F.lit('"},"d":{"old":false},"sarr":{"l":3},"smeta":{"i":{"tag":"'),
        tag,
        F.lit('"},"d":{"junk":false},"sdeep":{"u":{"lvl":"'),
        lvl,
        F.lit('"}}}}}'),
    )
    out = transforms.normalize_delta_update_full(df.withColumn("o", v2))
    return out.select("id", "user_id", "set_json", "unset_json").orderBy("id")


@_q(
    "q28_tunnel_roundtrip",
    _O
    + """SELECT op, count(*) AS cnt, CAST(sum(id) AS BIGINT) AS id_sum,
       round(CAST(sum(value) AS DOUBLE), 2) AS value_sum
FROM oplog_v GROUP BY op ORDER BY op""",
    "S8/S12 end-to-end: rows are encoded to wire frames and decoded back "
    "(in-plan), then aggregated; the oracle aggregates the original rows — "
    "any encode/decode corruption breaks the checksums.",
    stream=True,
)
def q28_tunnel_roundtrip(spark, sf_dir):
    from mongoshake_spark.operators.parallel import fan_out_scan
    from mongoshake_spark.sources.tunnel import decode_frames, encode_frames

    # the JSON encode+decode chain is heavy per-row JVM work that runs at
    # SCAN width — an under-split events file serialized the whole codec
    # on one task (profiled in OPTIMIZATION_r13.md item 8); the aggregate
    # below re-keys anyway, so the fan-out is result-invariant
    oplog = fan_out_scan(_oplog(spark, sf_dir))
    decoded = decode_frames(encode_frames(oplog))
    return (
        decoded.groupBy("op")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("id").alias("id_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("op")
    )


# q29: F4 full DDL-aware namespace filtering. The oracle reconstructs the
# same deterministic DDL feed and computes keep/effective-ns directly from
# the construction variables (db/tgt/kind) — an independent derivation that
# never parses JSON, while the Spark side exercises the real operator
# (effective_ns + keep_namespace_ddl over the command documents).
_Q29_WHITE_RE = r"^(db1|db2\.t3)$|^(db1\.|db2\.t3\.).*$"
_Q29_BLACK_RE = r"^(db1\.t7)$|^(db1\.t7\.).*$"
_Q29_ORACLE = _O + f"""
, feed AS (
  SELECT id, op, ns,
         concat('db', CAST(user_id % 4 AS VARCHAR)) AS db,
         concat('t', CAST(id % 12 AS VARCHAR)) AS tgt,
         CAST(user_id % 8 AS INT) AS kind,
         CAST(user_id % 16 AS INT) AS u16
  FROM oplog_v WHERE op IN ('c','i','u','d')
), eff AS (
  SELECT id, op,
    CASE
      WHEN op = 'c' THEN
        CASE WHEN kind IN (4, 5, 6) THEN concat(db, '.$cmd')
             ELSE concat(db, '.', tgt) END
      WHEN u16 = 3 THEN concat(db, '.', tgt)
      ELSE ns
    END AS eff_ns,
    CASE
      WHEN op = 'c' AND kind = 5 THEN FALSE   -- startIndexBuild: always drop
      WHEN op = 'c' AND kind = 6 THEN TRUE    -- applyOps: always keep
      ELSE NULL                               -- ns rule below
    END AS forced
  FROM feed
)
SELECT eff_ns, op, count(*) AS cnt FROM eff
WHERE coalesce(forced,
        (eff_ns LIKE '%.$cmd' AND split_part(eff_ns, '.', 1) IN ('db1','db2'))
        OR (regexp_matches(eff_ns, '{_Q29_WHITE_RE}')
            AND NOT regexp_matches(eff_ns, '{_Q29_BLACK_RE}')))
GROUP BY eff_ns, op ORDER BY eff_ns, op"""


@_q(
    "q29_ddl_ns_filter",
    _Q29_ORACLE,
    "F4 full form (oplog_filter.go:147-290): DDL commands filtered on their "
    "EFFECTIVE namespace — create/drop/createIndexes/collMod target from the "
    "command value, renameCollection from the source ns, dropDatabase on the "
    "raw $cmd ns with the whitelist-db override, startIndexBuild dropped, "
    "applyOps kept; DML on system.indexes routed by o.ns.",
)
def q29_ddl_ns(spark, sf_dir):
    # NOT scan-fanned: the DDL filter chain LOOKS heavy (1.4 s single
    # task in the stage probe) but an A/B of fan_out_scan here measured
    # consistently SLOWER (1.78 -> 2.11 s min-of-3) — the exchange +
    # lost scan-local pipelining outweigh the parallelism at this
    # per-row cost, unlike the codec/gram lanes (OPTIMIZATION_r13.md)
    base = _oplog(spark, sf_dir).filter(F.col("op").isin("c", "i", "u", "d"))
    db = F.concat(F.lit("db"), (F.col("user_id") % 4).cast("string"))
    tgt = F.concat(F.lit("t"), (F.col("id") % 12).cast("string"))
    kind = (F.col("user_id") % 8).cast("int")
    u16 = (F.col("user_id") % 16).cast("int")
    is_c = F.col("op") == "c"
    o = (
        F.when(is_c & (kind == 0), F.concat(F.lit('{"create":"'), tgt, F.lit('","capped":true}')))
        .when(is_c & (kind == 1), F.concat(F.lit('{"drop":"'), tgt, F.lit('"}')))
        .when(is_c & (kind == 2),
              F.concat(F.lit('{"renameCollection":"'), db, F.lit("."), tgt,
                       F.lit('","to":"db0.renamed"}')))
        .when(is_c & (kind == 3),
              F.concat(F.lit('{"createIndexes":"'), tgt, F.lit('","indexes":"i1"}')))
        .when(is_c & (kind == 4), F.lit('{"dropDatabase":1}'))
        .when(is_c & (kind == 5), F.concat(F.lit('{"startIndexBuild":"'), tgt, F.lit('"}')))
        .when(is_c & (kind == 6), F.lit('{"applyOps":"inner"}'))
        .when(is_c & (kind == 7), F.concat(F.lit('{"collMod":"'), tgt, F.lit('"}')))
        .when(u16 == 3, F.concat(F.lit('{"v":"2","ns":"'), db, F.lit("."), tgt, F.lit('"}')))
        .otherwise(F.col("o"))
    )
    ns = (
        F.when(is_c, F.concat(db, F.lit(".$cmd")))
        .when(u16 == 3, F.concat(db, F.lit(".system.indexes")))
        .otherwise(F.col("ns"))
    )
    feed = base.select("id", "op", ns.alias("ns"), o.alias("o"))
    kept = feed.filter(
        filters.keep_namespace_ddl(whitelist=["db1", "db2.t3"], blacklist=["db1.t7"])
    )
    return (
        kept.withColumn("eff_ns", transforms.effective_ns())
        .groupBy("eff_ns", "op")
        .agg(F.count("*").alias("cnt"))
        .orderBy("eff_ns", "op")
    )


_Q31_ORACLE = (
    _O
    + """, crud AS (
  SELECT CAST(user_id AS VARCHAR) AS lsid,
         CAST(user_id % 3 AS BIGINT) AS txnNumber,
         id AS seq, op, ns, o
  FROM oplog_v WHERE op IN ('i','u','d') AND user_id % 5 = 0)
SELECT lsid, txnNumber, seq, op, ns, o FROM crud
WHERE CAST(lsid AS BIGINT) % 7 <> 0
ORDER BY CAST(lsid AS BIGINT), seq"""
)


@_q(
    "q31_txn_crossbatch",
    _Q31_ORACLE,
    "B3 cross-micro-batch transaction reassembly (oplog/txn_buffer.go:99-166): "
    "partialTxn chunks span >=2 micro-batches; committed sessions emit every "
    "buffered op at commit time, aborted sessions (user_id % 7 == 0) emit "
    "nothing. Runs a real applyInPandasWithState stream over a 3-file feed.",
    stream=True,
)
def q31(spark, sf_dir):
    """The one declared query that executes the STREAMING plane: builds a
    transaction feed (one session per user; chunks ordered by seq; last row
    is the commit — or the abort for every 7th user), splits it into 3
    seq-ranged files replayed one per micro-batch (every session's chunks
    still cross BOTH batch boundaries — the cross-batch reassembly claim
    needs >=2 boundaries, and each extra micro-batch costs a full
    state-store + sink-commit round on the bench's critical path; round 8
    ran 6 files, buying nothing the 3-file replay doesn't assert),
    reassembles with the stateful operator, and returns the emitted op
    sequence."""
    import os
    import shutil
    import tempfile
    import time

    from mongoshake_spark.streaming.txn import reassemble_transactions

    # deterministic 1/5 SESSION sample: every sampled user keeps their
    # complete transaction (rows still span all 6 feed files, so the
    # cross-batch reassembly is fully exercised), while the per-batch
    # stateful-callback count — one Python call per live session per
    # micro-batch, the dominant cost — drops 5x
    # 4 state-store partitions instead of the session's 32: per-batch cost
    # of a stateful stream scales with store instances, and this drain
    # runs 3 micro-batches over a small session-key space
    ss = stream_session(spark, 4)
    base = _oplog(ss, sf_dir).filter(
        F.col("op").isin("i", "u", "d") & (F.col("user_id") % 5 == 0)
    )
    txn = base.select(
        F.col("user_id").cast("string").alias("lsid"),
        (F.col("user_id") % 3).cast("long").alias("txnNumber"),
        F.col("id").alias("seq"),
        "op",
        "ns",
        "o",
    )
    last = txn.groupBy("lsid", "txnNumber").agg(F.max("seq").alias("_last_seq"))
    aborted = (F.col("lsid").cast("bigint") % 7) == 0
    feed = (
        txn.join(F.broadcast(last), ["lsid", "txnNumber"])
        .withColumn("commit", (F.col("seq") == F.col("_last_seq")) & ~aborted)
        .withColumn("abort", (F.col("seq") == F.col("_last_seq")) & aborted)
        .drop("_last_seq")
    )
    tmp = _stream_tmpdir("q31_")
    feed_dir, ckpt_dir = f"{tmp}/feed", f"{tmp}/ckpt"
    try:
        (
            feed.repartitionByRange(3, "seq")
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .parquet(feed_dir)
        )
        # file source admits oldest-mtime-first; stamp range order so the
        # replay is the oplog order (a commit seen before its chunks would
        # drop the transaction)
        parts = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
        t0 = time.time() - len(parts) - 10
        for i, f in enumerate(parts):
            os.utime(os.path.join(feed_dir, f), (t0 + i, t0 + i))
        stream = (
            ss.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out_dir = f"{tmp}/out"
        drain(
            reassemble_transactions(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir),
            "q31_txn_crossbatch",
        )
        # emitted rows flow executor->sink->scan, never through the driver;
        # the eager localCheckpoint detaches the result from the temp dir
        # (deleted below) while keeping the rows in distributed blocks
        out_schema = (
            "lsid string, txnNumber bigint, seq bigint, op string, "
            "ns string, o string"
        )
        out = (
            spark.read.schema(out_schema)
            .parquet(out_dir)
            .localCheckpoint(eager=True)
        )
        return out.orderBy(F.col("lsid").cast("bigint"), "seq")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_q(
    "q32_socket_tunnel",
    _O
    + """SELECT CAST(user_id % 8 AS INT) AS partition, count(*) AS cnt,
       round(CAST(sum(value) AS DOUBLE), 2) AS chk
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "S10 live TCP tunnel round trip (tunnel/tcp_writer.go + "
    "receiver/replayer.go:54-146): every row streams through a real socket "
    "(zlib frames, crc32-xor checksums, reject-until-retransmit handshake) "
    "and back; per-partition count/checksum must equal the source.",
    stream=True,
)
def q32(spark, sf_dir):
    """Unlike q28's file tunnel, the transport here is a live embedded TCP
    server: executors connect per-partition, frames carry the reference's
    packet/TMessage wire format, and the first send exercises the
    retransmission handshake (a fresh receiver rejects untagged writes)."""
    from mongoshake_spark.sources import socket_tunnel as st

    ov = _oplog(spark, sf_dir)
    server = st.TunnelServer().start()
    try:
        st.write_socket_tunnel(
            ov, "127.0.0.1", server.port, batch_size=4096, compress=st.COMPRESS_ZLIB
        )
        got = server.to_dataframe(spark)
        return (
            got.groupBy((F.col("user_id") % F.lit(8)).cast("int").alias("partition"))
            .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("chk"))
            .orderBy("partition")
        )
    finally:
        server.stop()


_VERIFY_ORACLE = """WITH src AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_mktsegment
  FROM customer),
dst AS (
  SELECT c_custkey, c_name, c_nationkey, cents,
         CASE WHEN c_custkey % 101 = 0 THEN 'MUTATED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM src WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT 999999, 'Customer#999999', 1, 0, 'EXTRA')
SELECT coalesce(s.c_custkey, d.c_custkey) AS c_custkey,
       CASE WHEN d.c_custkey IS NULL THEN 'missing_in_dst'
            WHEN s.c_custkey IS NULL THEN 'missing_in_src'
            WHEN s.c_name <> d.c_name OR s.c_nationkey <> d.c_nationkey
              OR s.cents <> d.cents OR s.c_mktsegment <> d.c_mktsegment
              THEN 'differs' END AS status
FROM src s FULL OUTER JOIN dst d ON s.c_custkey = d.c_custkey
WHERE CASE WHEN d.c_custkey IS NULL THEN 'missing_in_dst'
           WHEN s.c_custkey IS NULL THEN 'missing_in_src'
           WHEN s.c_name <> d.c_name OR s.c_nationkey <> d.c_nationkey
             OR s.cents <> d.cents OR s.c_mktsegment <> d.c_mktsegment
             THEN 'differs' END IS NOT NULL
ORDER BY 1"""


@_q(
    "verify_sync_diff",
    _VERIFY_ORACLE,
    "Post-sync verification (scripts/comparison.py re-expressed at scale): "
    "a mutated copy of customer — dropped keys, one altered field, one "
    "extra row — is compared with the two-phase bucketed verifier "
    "(plans/verify.verify_sync): bucket count+signature summaries name "
    "the diverged buckets, then a key-level full-outer diff runs ONLY "
    "inside them. The oracle replays the classification by direct column "
    "comparison, pinning the verifier against a hash-free ground truth.",
)
def verify_sync_diff_q(spark, sf_dir):
    from mongoshake_spark.plans.verify import verify_sync

    src = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string")
    sig_cols = [
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        cents,
        F.col("c_mktsegment"),
    ]
    extra = spark.createDataFrame(
        [(999999, "Customer#999999", 1, 0.0, "EXTRA")], src.schema
    )
    dst = (
        src.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 101 == 0, F.lit("MUTATED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionByName(extra)
    )
    return verify_sync(src, dst, "c_custkey", sig_cols, n_buckets=64).orderBy(
        "c_custkey"
    )


_REPAIR_ORACLE = """WITH src AS (
  SELECT c_custkey, c_name, c_mktsegment FROM customer),
dst AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 101 = 0 THEN 'MUTATED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM src WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT 999999, 'Customer#999999', 'EXTRA')
SELECT CASE WHEN d.c_custkey IS NULL THEN 'i'
            WHEN s.c_custkey IS NULL THEN 'd'
            ELSE 'u' END AS op,
       coalesce(s.c_custkey, d.c_custkey) AS c_custkey,
       s.c_name AS c_name, s.c_mktsegment AS c_mktsegment
FROM src s FULL OUTER JOIN dst d ON s.c_custkey = d.c_custkey
WHERE d.c_custkey IS NULL OR s.c_custkey IS NULL
   OR s.c_name <> d.c_name OR s.c_mktsegment <> d.c_mktsegment
ORDER BY c_custkey"""


@_q(
    "repair_plan",
    _REPAIR_ORACLE,
    "Verify -> repair: the minimal op-set healing a diverged target — "
    "'i' for missing rows, 'u' for mutated rows (source payload "
    "attached), 'd' for strays — derived from the two-phase bucketed "
    "verifier, so the work is |diff|-sized, not |table|-sized (the "
    "reference's only recourse is a full re-sync). The oracle replays "
    "the classification by direct comparison; "
    "tests prove apply_repair(dst, plan) == src exactly "
    "(plans/repair.repair_ops).",
)
def repair_plan_q(spark, sf_dir):
    from mongoshake_spark.plans.repair import repair_ops

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    extra = spark.createDataFrame(
        [(999999, "Customer#999999", "EXTRA")], src.schema
    )
    dst = (
        src.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 101 == 0, F.lit("MUTATED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .unionByName(extra)
    )
    return repair_ops(
        src, dst, "c_custkey", ["c_name", "c_mktsegment"], n_buckets=64
    ).orderBy("c_custkey")


@_q(
    "q37_multi_ns_sync",
    _O
    + """, tagged AS (
  SELECT *, CASE WHEN user_id % 2 = 0 THEN 'db0.even' ELSE 'db0.odd' END AS ns2
  FROM oplog_v WHERE op IN ('i','u','d'))
SELECT ns2 AS ns, user_id, value FROM (
  SELECT ns2, user_id, arg_max(value, id) AS value, arg_max(op, id) AS last_op
  FROM tagged GROUP BY ns2, user_id)
WHERE last_op <> 'd' ORDER BY ns, user_id""",
    "Whole-deployment incremental sync (the reference's default shape: "
    "every namespace through one job): the oplog split into two "
    "namespaces streams through ONE apply kernel keyed and bucketed on "
    "(ns, user_id) — one checkpoint, one state table with an ns column, "
    "one watermark — and each namespace's rows in that table must equal "
    "ITS OWN last-writer-wins reconstruction. Runs a real 2-micro-batch "
    "stream (cross-batch accumulation + watermark advance need one "
    "boundary; each extra batch costs a MERGE cycle on the bench's "
    "critical path) (streaming/multi.py; CLI --multi-ns).",
    stream=True,
)
def q37_multi_ns(spark, sf_dir):
    import os
    import time

    from mongoshake_spark.streaming.multi import run_multi_incr_sync

    # 8 shuffle partitions: each micro-batch runs one MERGE cycle whose
    # constant scales with partition count, not rows, at this feed size
    ss = stream_session(spark, 8)
    two_ns = _oplog(ss, sf_dir).withColumn(
        "ns",
        F.when(F.col("user_id") % 2 == 0, F.lit("db0.even")).otherwise(
            F.lit("db0.odd")
        ),
    )
    tmp = _stream_tmpdir("q37_")
    feed, root, ckpt = (os.path.join(tmp, d) for d in ("feed", "root", "ck"))
    (
        two_ns.repartitionByRange(2, "ts", "id")
        .sortWithinPartitions("ts", "id")
        .write.parquet(feed)
    )
    # the file stream admits oldest-mtime-first; one write job shares an
    # mtime — stamp range order so replay follows the oplog order the
    # kernel's compaction watermark assumes (see write_replay_feed)
    parts = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
    base = time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed, f), (base + i, base + i))
    kernel = run_multi_incr_sync(ss, feed, root, ckpt, max_files_per_trigger=1)
    return (
        kernel.state_view()
        .select("ns", "user_id", "value")
        .orderBy("ns", "user_id")
        .localCheckpoint(eager=True)
    )


@_q(
    "q38_tunnel_formats",
    _O
    + """SELECT fmt, op, count(*) AS cnt, CAST(sum(id) AS BIGINT) AS id_sum,
       round(CAST(sum(value) AS DOUBLE), 2) AS value_sum
FROM (SELECT 'canonical_extended_json' AS fmt, * FROM oplog_v
      UNION ALL SELECT 'raw' AS fmt, * FROM oplog_v)
GROUP BY fmt, op ORDER BY fmt, op""",
    "S8 message-format parity (tunnel.message = canonical_extended_json "
    "and raw, kafka_writer.go:116-191): every row is encoded through "
    "each codec IN-PLAN (Extended JSON v2 wrappers; the byte-exact "
    "TMessage block with its XOR-of-crc32 checksum, built entirely in "
    "codegen via crc32/hex/unhex) and decoded back — raw frames pass the "
    "CRC gate or drop to dead-letter — then aggregated; the oracle "
    "aggregates the original rows per format, so any encode/decode "
    "corruption or CRC failure changes the counts (sources/tunnel.py; "
    "byte-level wire parity pinned by test_tunnel_raw_tmessage_wire).",
    stream=True,
)
def q38_tunnel_formats(spark, sf_dir):
    from mongoshake_spark.operators.parallel import fan_out_scan
    from mongoshake_spark.sources.tunnel import (
        decode_ext_frames,
        decode_raw_frames,
        encode_frames,
    )

    # fan BEFORE the encode: the checkpointed frame tables inherit the
    # scan's split count, and an under-split events file left BOTH decode
    # legs (from_json + CRC gate over every frame) on ONE task each
    # (profiled in OPTIMIZATION_r13.md item 8 — the frames measured
    # 1 partition at sf0.1)
    oplog = fan_out_scan(_oplog(spark, sf_dir))
    # lineage break between producer and consumer: a receiver decodes
    # frames from STORAGE (Kafka/file), never by re-deriving the encode
    # plan — and without the break, predicate pushdown through the
    # decoder's corrupt-filter re-inlines the whole encode+parse tree
    # per referenced column (measured 7.6s -> 2.1s warm on the raw leg
    # at sf0.1)
    ext_frames = encode_frames(
        oplog, message="canonical_extended_json"
    ).localCheckpoint()
    raw_frames = encode_frames(oplog, message="raw").localCheckpoint()
    ext = decode_ext_frames(ext_frames).withColumn(
        "fmt", F.lit("canonical_extended_json")
    )
    raw, _corrupt = decode_raw_frames(raw_frames)
    raw = raw.withColumn("fmt", F.lit("raw"))
    both = ext.select("fmt", "op", "id", "value").unionByName(
        raw.select("fmt", "op", "id", "value")
    )
    return (
        both.groupBy("fmt", "op")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("id").alias("id_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("fmt", "op")
    )


@_q(
    "q39_dump_file_roundtrip",
    _O
    + """SELECT CAST(user_id % 8 AS INT) AS shard, count(*) AS cnt,
       CAST(sum(id) AS BIGINT) AS id_sum,
       round(CAST(sum(value) AS DOUBLE), 2) AS value_sum
FROM oplog_v GROUP BY 1 ORDER BY 1""",
    "S9 byte-exact wire form end-to-end (tunnel/file_writer.go): rows "
    "are JSON-framed, shard-routed, written as per-partition reference "
    "dump.data files (32-byte magic header, XOR-crc32 TMessage blocks, "
    "executor-side), read back in parallel (one task per dump file), "
    "CRC-gated and decoded; the oracle aggregates the original rows per "
    "shard, so any framing, batching, CRC or routing defect changes the "
    "counts (sources/file_dump).",
    stream=True,
)
def q39_dump_file_roundtrip(spark, sf_dir):
    import os

    from mongoshake_spark.sources.file_dump import (
        read_dump_files,
        write_dump_files,
    )
    from mongoshake_spark.sources.tunnel import decode_frames

    oplog = _oplog(spark, sf_dir)
    frames = oplog.select(
        (F.col("user_id") % F.lit(8)).cast("int").alias("shard"),
        F.to_json(F.struct(*oplog.columns)).alias("value"),
    )
    tmp = _stream_tmpdir("q39_")
    dump_dir = os.path.join(tmp, "dumps")
    write_dump_files(frames.repartition(4, "shard"), dump_dir)
    back = read_dump_files(spark, dump_dir)
    decoded = decode_frames(
        back.filter(F.col("crc_ok")).select(
            "shard", F.col("value").cast("string").alias("value")
        )
    )
    return (
        decoded.groupBy("shard")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("id").alias("id_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("shard")
        .localCheckpoint(eager=True)
    )


@_q(
    "q40_receiver_daemon",
    _O
    + """SELECT user_id, value FROM (
  SELECT user_id, arg_max(value, id) AS value, arg_max(op, id) AS last_op
  FROM oplog_v WHERE op IN ('i','u','d') GROUP BY user_id)
WHERE last_op <> 'd' ORDER BY user_id""",
    "Standalone receiver daemon (cmd/receiver/receiver.go:1-92 + "
    "receiver/replayer.go:54-146): the oplog streams through a live TCP "
    "tunnel into run_receiver (wire protocol: retransmission handshake, "
    "crc32-xor, per-shard ack watermarks), whose ApplyKernel folds the "
    "received frames; the receiver's MATERIALIZED target must equal the "
    "last-writer-wins reconstruction. CLI: --sync-mode receive paired "
    "with a tunnel=tcp collector.",
    stream=True,
)
def q40_receiver_daemon(spark, sf_dir):
    import threading

    from mongoshake_spark.sources import socket_tunnel as st
    from mongoshake_spark.streaming.receive import run_receiver

    # 8 shuffle partitions for the receiver's apply kernel: the same
    # per-MERGE-cycle constant sizing as q37_multi_ns_sync
    ss = stream_session(spark, 8)
    ov = _oplog(ss, sf_dir)
    tmp = _stream_tmpdir("q40_")
    port_ready = threading.Event()
    box: dict = {}

    def _serve():
        box["summary"] = run_receiver(
            ss,
            f"{tmp}/target",
            idle_timeout=0.5,
            max_wall=120,
            poll=0.05,
            # the oracle checks END STATE: let the whole feed settle into
            # ONE kernel flush instead of ~15 4096-row MERGE cycles (the
            # multi-flush micro-batching contract is pinned by the
            # receiver pytest scenarios and the two-process CLI test;
            # paying it again here only loads the bench's critical path)
            batch_rows=1_000_000,
            on_ready=lambda p: (box.__setitem__("port", p), port_ready.set()),
        )

    th = threading.Thread(target=_serve, daemon=True)
    th.start()
    if not port_ready.wait(30):
        raise RuntimeError("q40: receiver did not bind within 30s")
    st.write_socket_tunnel(ov, "127.0.0.1", box["port"], batch_size=4096)
    th.join(120)
    if th.is_alive():
        raise RuntimeError("q40: receiver did not drain within 120s")
    return (
        spark.read.parquet(f"{tmp}/target")
        .filter(F.col("op") != "d")
        .select("user_id", "value")
        .orderBy("user_id")
        .localCheckpoint(eager=True)
    )


_CDC_TERMS = " + ".join(f"codes[i - {t}] * {31**t}" for t in range(8))

@_q(
    "cdc_chunks",
    f"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) > 0),
c AS (SELECT doc_id, text, n,
             list_transform(range(1, n + 1),
               i -> CAST(ascii(text[CAST(i AS BIGINT):CAST(i AS BIGINT)]) AS BIGINT)) AS codes
      FROM d),
k AS (SELECT doc_id, text, n,
             [CAST(0 AS BIGINT)]
               || list_filter(range(8, n),
                    i -> (({_CDC_TERMS}) % 1000000007) % 64 = 0)
               || [CAST(n AS BIGINT)] AS bounds
      FROM c)
SELECT doc_id, CAST(t.j AS INT) AS chunk_idx,
       CAST(bounds[t.j] + 1 AS INT) AS start,
       CAST(bounds[t.j + 1] - bounds[t.j] AS INT) AS n_chars_chunk,
       md5(text[CAST(bounds[t.j] + 1 AS BIGINT):CAST(bounds[t.j + 1] AS BIGINT)])
         AS chunk_md5
FROM k, unnest(range(1, len(bounds))) AS t(j)
ORDER BY doc_id, chunk_idx""",
    "Content-defined chunking (LBFS/Rabin): a chunk boundary falls after "
    "every position whose 8-char rolling hash is 0 mod 64, so boundaries "
    "depend only on LOCAL content — splice a sentence into a document "
    "and every chunk outside the edit keeps its md5 identity (fixed-size "
    "chunking shifts ALL downstream chunks). Grouping the chunk_md5 "
    "column is insertion-robust chunk-level dedup, the storage-dedup "
    "complement to document minhash. Map-ONLY either way, no shuffle: "
    "the default arrow impl folds the rolling hash as 8 shifted numpy "
    "adds per Arrow batch (~6x the codegen HOF form, bit-identical — "
    "the impl='expr' HOF form is what the oracle replays literally and "
    "the property test runs BOTH against a serial model) "
    "(functions/curation.cdc_chunks).",
)
def cdc_chunks_q(spark, sf_dir):
    from mongoshake_spark.functions.curation import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs).orderBy("doc_id", "chunk_idx")
