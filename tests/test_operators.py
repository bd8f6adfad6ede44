"""Tier-1 unit tests — ports of the reference's in-memory scenario tables
(SURVEY §5: collector/filter/filter_test.go, oplog/oplog_test.go,
oplog/changestram_event_test.go, oplog/hasher_test.go)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mongoshake_spark.operators import combiner, filters, merge, partitioners, transforms


def _oplog_df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, ts long, op string, ns string, o string, g string"
    )


# ---------------------------------------------------------------------------
# filters (collector/filter/filter_test.go scenarios)
# ---------------------------------------------------------------------------

def test_noop_filter(spark):
    df = _oplog_df(spark, [(1, 1, "i", "a.b", "{}", None), (2, 2, "n", "a.b", "{}", None)])
    out = filters.filter_chain(df, filters.keep_not_noop()).collect()
    assert [r["id"] for r in out] == [1]


def test_autologous_allowlist_priority(spark):
    """doc_filter.go:58-81: admin.$cmd passes even though admin. is a
    dropped prefix; system.views dropped wherever it appears."""
    rows = [
        (1, 1, "i", "admin.users", "{}", None),
        (2, 2, "i", "admin.$cmd", "{}", None),
        (3, 3, "i", "mydb.system.views", "{}", None),
        (4, 4, "i", "mydb.regular", "{}", None),
        (5, 5, "i", "mongoshake.ckpt", "{}", None),
    ]
    out = filters.filter_chain(
        _oplog_df(spark, rows), filters.keep_not_autologous()
    ).collect()
    assert sorted(r["id"] for r in out) == [2, 4]


def test_gid_filter_empty_passes_all(spark):
    df = _oplog_df(spark, [(1, 1, "i", "a.b", "{}", "g1"), (2, 2, "i", "a.b", "{}", "g2")])
    assert filters.filter_chain(df, filters.keep_gid([])).count() == 2
    out = filters.filter_chain(df, filters.keep_gid(["g1"])).collect()
    assert [r["id"] for r in out] == [1]


def test_strip_gid_nulls_the_gid_and_passes_gidless_frames(spark):
    """F8 (collector/syncer.go:618-633): the gid is cleared before the
    oplog leaves the collector; a frame without the column is untouched."""
    df = _oplog_df(spark, [(1, 1, "i", "a.b", "{}", "g1"), (2, 2, "u", "a.b", "{}", None)])
    out = filters.strip_gid(df).collect()
    assert [r["g"] for r in out] == [None, None]
    assert [tuple(r)[:5] for r in out] == [tuple(r)[:5] for r in df.collect()]
    no_gid = df.drop("g")
    assert filters.strip_gid(no_gid) is no_gid


def test_ns_regex_compilation():
    """oplog_filter.go:107-124 regex form: exact match OR db-prefix."""
    pat = filters.compile_ns_regex(["db1", "db2.c5"])
    assert pat == r"^(db1|db2\.c5)$|^(db1\.|db2\.c5\.).*$"


def test_ns_whitelist_blacklist(spark):
    rows = [
        (1, 1, "i", "db1.c1", "{}", None),
        (2, 2, "i", "db1.c9", "{}", None),
        (3, 3, "i", "db2.c5", "{}", None),
        (4, 4, "i", "db2.c6", "{}", None),
        (5, 5, "i", "db3.c1", "{}", None),
    ]
    out = filters.filter_chain(
        _oplog_df(spark, rows),
        filters.keep_namespace(whitelist=["db1", "db2.c5"], blacklist=["db1.c9"]),
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_ns_whitelist_cmd_db_override(spark):
    """filter_test.go:14-29 + doc_filter.go:83-90: whitelist gogo.test1
    keeps gogo.$cmd (the db of a whitelist entry owns its $cmd)."""
    rows = [
        (1, 1, "i", "gogo.$cmd", "{}", None),
        (2, 2, "i", "other.$cmd", "{}", None),
        (3, 3, "i", "gogo.test1", "{}", None),
        (4, 4, "i", "gogo.test9", "{}", None),
    ]
    out = filters.filter_chain(
        _oplog_df(spark, rows),
        filters.keep_namespace(whitelist=["gogo.test1", "gogo.test2"]),
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_effective_ns_rewrite(spark):
    """oplog_filter.go:147-290 effective-namespace table: per-command
    extraction of the real target ns."""
    rows = [
        (1, 1, "c", "db1.$cmd", '{"create":"tbl","capped":true}', None),
        (2, 2, "c", "db1.$cmd", '{"drop":"gone"}', None),
        (3, 3, "c", "db1.$cmd", '{"renameCollection":"db1.src","to":"db1.dst"}', None),
        (4, 4, "c", "db1.$cmd", '{"createIndexes":"idxcoll","indexes":"x"}', None),
        (5, 5, "c", "db1.$cmd", '{"dropDatabase":1}', None),
        (6, 6, "c", "db1.$cmd", '{"applyOps":"..."}', None),
        (7, 7, "i", "db2.system.indexes", '{"v":2,"ns":"db2.real"}', None),
        (8, 8, "i", "db3.plain", '{"a":1}', None),
        (9, 9, "c", "db1.$cmd", "not-json", None),
        (10, 10, "c", "db1.$cmd", '{"emptycapped":"cap"}', None),
    ]
    out = (
        _oplog_df(spark, rows)
        .withColumn("eff", transforms.effective_ns())
        .orderBy("id")
        .collect()
    )
    assert [r["eff"] for r in out] == [
        "db1.tbl", "db1.gone", "db1.src", "db1.idxcoll", "db1.$cmd",
        "db1.$cmd", "db2.real", "db3.plain", "db1.$cmd", "db1.cap",
    ]


def test_keep_namespace_ddl_dispositions(spark):
    """oplog_filter.go:166-290: DDL filtered on effective ns;
    startIndexBuild/abortIndexBuild always dropped; applyOps and
    unparseable commands always kept."""
    rows = [
        # whitelist db1: create on db1.tbl -> keep
        (1, 1, "c", "db1.$cmd", '{"create":"tbl"}', None),
        # create on db2 -> drop (effective ns db2.tbl not whitelisted)
        (2, 2, "c", "db2.$cmd", '{"create":"tbl"}', None),
        # renameCollection whose source is whitelisted -> keep
        (3, 3, "c", "db9.$cmd", '{"renameCollection":"db1.src","to":"db9.dst"}', None),
        # startIndexBuild -> always drop, even on whitelisted db
        (4, 4, "c", "db1.$cmd", '{"startIndexBuild":"tbl"}', None),
        (5, 5, "c", "db1.$cmd", '{"abortIndexBuild":"tbl"}', None),
        # applyOps -> always keep
        (6, 6, "c", "admin.$cmd", '{"applyOps":"..."}', None),
        # unparseable command object -> keep (go:168-172)
        (7, 7, "c", "db2.$cmd", "not-json", None),
        # dropDatabase falls through to the raw ns + $cmd-db override
        (8, 8, "c", "db1.$cmd", '{"dropDatabase":1}', None),
        (9, 9, "c", "db2.$cmd", '{"dropDatabase":1}', None),
        # DML rows: plain ns rule
        (10, 10, "i", "db1.c1", "{}", None),
        (11, 11, "i", "db2.c1", "{}", None),
        # DML on system.indexes routed by o.ns
        (12, 12, "i", "db2.system.indexes", '{"ns":"db1.real"}', None),
        (13, 13, "i", "db1.system.indexes", '{"ns":"db2.real"}', None),
        # blacklist hit on effective ns
        (14, 14, "c", "db1.$cmd", '{"drop":"c9"}', None),
        # illegal (non-string) command values -> keep unconditionally
        # ("illegal oplog, ignore", go:202-206) — even on a non-whitelisted
        # db where the garbage effective ns would otherwise drop the row
        (15, 15, "c", "db2.$cmd", '{"create":{"x":1}}', None),
        (16, 16, "c", "db2.$cmd", '{"create":null}', None),
        (17, 17, "c", "db2.$cmd", '{"renameCollection":["a","b"]}', None),
    ]
    out = filters.filter_chain(
        _oplog_df(spark, rows),
        filters.keep_namespace_ddl(whitelist=["db1"], blacklist=["db1.c9"]),
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 3, 6, 7, 8, 10, 12, 15, 16, 17]


def test_migrate_filter_crashes(spark):
    df = spark.createDataFrame(
        [(1, False), (2, True)], "id long, fromMigrate boolean"
    )
    with pytest.raises(Exception, match="balancer"):
        filters.assert_no_migrate(df).collect()


def test_orphan_filter_ranges(spark):
    """orphan_filter.go:26-92: keep docs whose key falls in an owned
    [min, max) chunk."""
    docs = spark.createDataFrame([(i,) for i in range(20)], "k long")
    chunks = spark.createDataFrame(
        [("t.c", "shard0", 0, 5), ("t.c", "shard1", 5, 10), ("t.c", "shard0", 10, 15)],
        "ns string, shard string, min_key long, max_key long",
    )
    out = filters.orphan_filter(docs, chunks, "k", "t.c", "shard0").collect()
    assert sorted(r["k"] for r in out) == [0, 1, 2, 3, 4, 10, 11, 12, 13, 14]


def _ref_mongo_hash(value) -> int:
    """Python twin of ComputeHash (orphan_filter.go:94-135) via hashlib —
    the independent reference the Spark column expression must match."""
    import hashlib
    import struct

    w = hashlib.md5()
    w.update(struct.pack("<i", 0))
    if isinstance(value, str):
        w.update(struct.pack("<i", 15))
        b = value.encode() + b"\x00"
        w.update(struct.pack("<i", len(b)))
        w.update(b)
    else:
        w.update(struct.pack("<i", 10))
        w.update(struct.pack("<Q", value & ((1 << 64) - 1)))
    return struct.unpack("<q", w.digest()[:8])[0]


def test_mongo_shard_key_hash_number(spark):
    vals = [0, 1, 1000, 123456789, -5, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", filters.mongo_shard_key_hash("v", "number").alias("h")
    )
    got = {r["v"]: r["h"] for r in df.collect()}
    assert got == {v: _ref_mongo_hash(v) for v in vals}


def test_mongo_shard_key_hash_string(spark):
    vals = ["", "abc", "tpch", "1234567", "naïve"]  # incl. multi-byte UTF-8
    df = spark.createDataFrame([(v,) for v in vals], "v string").select(
        "v", filters.mongo_shard_key_hash("v", "string").alias("h")
    )
    got = {r["v"]: r["h"] for r in df.collect()}
    assert got == {v: _ref_mongo_hash(v) for v in vals}


def test_orphan_filter_hashed_matches_reference_simulation(spark):
    """Hashed-shard ownership must equal a row-by-row simulation of the
    reference's Filter loop (ComputeHash + chunkLt/chunkGt with sentinel
    bounds, orphan_filter.go:49-92)."""
    MIN, MAX = filters.BSON_MINKEY, filters.BSON_MAXKEY
    chunks_rows = [
        ("t.c", "shard0", MIN, -(2**61)),          # MinKey-bounded
        ("t.c", "shard1", -(2**61), 0),
        ("t.c", "shard0", 0, 2**61),
        ("t.c", "shard1", 2**61, MAX),             # MaxKey-bounded
    ]
    chunks = spark.createDataFrame(
        chunks_rows, "ns string, shard string, min_key long, max_key long"
    )
    docs = spark.createDataFrame([(i,) for i in range(200)], "k long")

    def rank(v):
        return 0 if v == MIN else 100 if v == MAX else 10

    def lt(x, y):
        if rank(x) != rank(y):
            return rank(x) < rank(y)
        return rank(x) == 10 and float(x) < float(y)

    def owned_sim(k):
        h = _ref_mongo_hash(k)
        for _, sh, mn, mx in chunks_rows:
            if sh == "shard0" and not lt(h, mn) and lt(h, mx):
                return True
        return False

    out = filters.orphan_filter(
        docs, chunks, "k", "t.c", "shard0", shard_type="hashed"
    ).collect()
    got = sorted(r["k"] for r in out)
    exp = sorted(k for k in range(200) if owned_sim(k))
    assert got == exp
    assert 0 < len(exp) < 200  # both shards actually own something


# ---------------------------------------------------------------------------
# transforms (changestram_event_test.go / oplog_test.go scenarios)
# ---------------------------------------------------------------------------

EVENT_SCHEMA = (
    "operationType string, fullDocument string, "
    "ns struct<db:string,coll:string>, to struct<db:string,coll:string>, "
    "documentKey string, "
    "updateDescription struct<updatedFields:string,removedFields:array<string>>, "
    "clusterTime long, txnNumber long, lsid string"
)


def _event(spark, **kw):
    base = dict(
        operationType=None, fullDocument=None, ns=None, to=None, documentKey=None,
        updateDescription=None, clusterTime=1, txnNumber=None, lsid=None,
    )
    base.update(kw)
    return spark.createDataFrame([Row(**base)], EVENT_SCHEMA)


@pytest.mark.parametrize(
    "kw,op,o",
    [
        (dict(operationType="insert", fullDocument='{"_id":1,"a":2}',
              ns=("db1", "c1"), documentKey='{"_id":1}'), "i", '{"_id":1,"a":2}'),
        (dict(operationType="delete", documentKey='{"_id":1}', ns=("db1", "c1")),
         "d", '{"_id":1}'),
        (dict(operationType="replace", fullDocument='{"_id":1,"b":3}',
              ns=("db1", "c1"), documentKey='{"_id":1}'),
         "u", '{"$set":{"_id":1,"b":3}}'),
        (dict(operationType="update", ns=("db1", "c1"), documentKey='{"_id":1}',
              updateDescription=('{"a":9}', [])), "u", '{"$set":{"a":9}}'),
        (dict(operationType="update", ns=("db1", "c1"), documentKey='{"_id":1}',
              updateDescription=('{"a":9}', ["b", "c"])),
         "u", '{"$set":{"a":9},"$unset":["b","c"]}'),
        (dict(operationType="drop", ns=("db1", "c1")), "c", '{"drop":"c1"}'),
        (dict(operationType="rename", ns=("db1", "c1"), to=("db2", "c2")),
         "c", '{"renameCollection":"db1.c1","to":"db2.c2"}'),
        (dict(operationType="dropDatabase", ns=("db1", None)), "c", '{"dropDatabase":1}'),
    ],
)
def test_event_to_oplog(spark, kw, op, o):
    out = transforms.event_to_oplog(_event(spark, **kw)).collect()[0]
    assert out["op"] == op
    assert out["o"] == o


def test_event_to_oplog_invalidate_is_fatal(spark):
    """changestram_event.go: invalidate kills the cursor — conversion must
    fail loudly, not emit a noop."""
    ev = _event(spark, operationType="invalidate", ns=("db1", "c1"))
    with pytest.raises(Exception, match="invalidated"):
        transforms.event_to_oplog(ev).collect()


def test_delta_update_normalization_v2(spark):
    """oplog/oplog.go:281-372: $v:2 diff -> canonical set/unset."""
    rows = [
        (1, '{"$v":2,"diff":{"i":{"a":"1"},"u":{"b":"2"},"d":{"c":"x"}}}'),
        (2, '{"$set":{"k":"9"},"$unset":{"z":"1"}}'),
    ]
    df = spark.createDataFrame(rows, "id long, o string")
    out = {r["id"]: r for r in transforms.normalize_delta_update(df).collect()}
    assert out[1]["set_map"] == {"a": "1", "b": "2"}
    assert out[1]["unset_keys"] == ["c"]
    assert out[2]["set_map"] == {"k": "9"}
    assert out[2]["unset_keys"] == ["z"]


@pytest.mark.parametrize(
    "o,exp_set,exp_unset",
    [
        # flat i/u/d sections
        ('{"$v":2,"diff":{"i":{"a":1},"u":{"b":2},"d":{"c":false}}}',
         {"a": 1, "b": 2}, ["c"]),
        # nested s-descent (oplog.go:281-372's recursive case)
        ('{"$v":2,"diff":{"u":{"b":2},"sE":{"i":{"x":1},"d":{"y":false}}}}',
         {"b": 2, "E.x": 1}, ["E.y"]),
        # doubly-nested descent
        ('{"$v":2,"diff":{"sA":{"sB":{"u":{"deep":9}}}}}',
         {"A.B.deep": 9}, []),
        # classic update passes through
        ('{"$set":{"k":1},"$unset":{"z":true}}', {"k": 1}, ["z"]),
        # array resize marker
        ('{"$v":2,"diff":{"sArr":{"l":3}}}', {"Arr": {"$resize": 3}}, []),
    ],
)
def test_delta_update_full_recursive(spark, o, exp_set, exp_unset):
    import json

    df = spark.createDataFrame([(1, o)], "id long, o string")
    row = transforms.normalize_delta_update_full(df).collect()[0]
    assert json.loads(row["set_json"]) == exp_set
    assert json.loads(row["unset_json"]) == sorted(exp_unset)


def test_command_name_extraction(spark):
    df = spark.createDataFrame(
        [(1, '{"createIndexes":"c1","v":"2"}'), (2, '{"dropDatabase":"1"}')],
        "id long, o string",
    )
    out = df.select("id", transforms.command_name().alias("cmd")).collect()
    assert {r["id"]: r["cmd"] for r in out} == {1: "createIndexes", 2: "dropDatabase"}


def test_ns_transform_first_match_wins(spark):
    df = spark.createDataFrame([("db0.c1",), ("db1.c2",), ("db2.c3",)], "ns string")
    col = transforms.ns_transform(
        F.col("ns"), [("db0", "first"), ("db0", "second"), ("db1", "tgt1")]
    )
    out = [r["ns_out"] for r in df.select(col.alias("ns_out")).collect()]
    assert out == ["first.c1", "tgt1.c2", "db2.c3"]


def test_db_fanout_explode(spark):
    df = spark.createDataFrame([(1, "src.c1"), (2, "other.c2")], "id long, ns string")
    out = transforms.db_fanout(df, {"src": ["t1", "t2"]}).collect()
    got = sorted((r["id"], r["ns"]) for r in out)
    assert got == [(1, "t1.c1"), (1, "t2.c1"), (2, "other.c2")]


def test_remarshal_serializes_the_named_columns(spark):
    """N3 (collector/syncer.go:461-480): the named columns re-marshal into
    one JSON document per row, the other columns ride along."""
    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, None, 0.0)], "a long, b string, c double"
    )
    out = transforms.remarshal(df, ["a", "b"]).collect()
    assert [r["value"] for r in out] == ['{"a":1,"b":"x"}', '{"a":2}']
    assert [r["c"] for r in out] == [2.5, 0.0]


def test_flatten_apply_ops(spark):
    o = '{"applyOps":[{"op":"i","ns":"a.b","o":"{\\"x\\":1}"},{"op":"d","ns":"a.c","o":"{\\"y\\":2}"}]}'
    df = spark.createDataFrame([(1, "c", "admin.$cmd", o)], "id long, op string, ns string, o string")
    out = transforms.flatten_apply_ops(df).collect()
    assert [(r["op"], r["ns"]) for r in out] == [("i", "a.b"), ("d", "a.c")]


def test_gather_apply_ops_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "i", "a.b", "{}"), (1, "u", "a.b", "{}")], "gid long, op string, ns string, o string"
    )
    gathered = transforms.gather_apply_ops(df, ["gid"])
    flat = transforms.flatten_apply_ops(gathered.withColumn("op", F.lit("c")))
    assert sorted(r["op"] for r in flat.collect()) == ["i", "u"]


# ---------------------------------------------------------------------------
# partitioners (oplog/hasher_test.go scenarios)
# ---------------------------------------------------------------------------

def _java_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


@pytest.mark.parametrize("s", ["db0.c1", "a.b", "x" * 40, "test.collection_with_longer_name"])
def test_java_string_hash_parity(spark, s):
    df = spark.createDataFrame([(s,)], "ns string")
    got = df.select(partitioners.java_string_hash(F.col("ns")).alias("h")).collect()[0]["h"]
    assert got == _java_hash(s)


def test_worker_by_ns_pins_ddl_to_zero(spark):
    rows = [(i, i, "c" if i % 3 == 0 else "i", f"db{i % 5}.c", "{}", None) for i in range(30)]
    out = partitioners.worker_by_ns(_oplog_df(spark, rows), 4)
    got = out.select("id", "op", "worker").collect()
    for r in got:
        if r["op"] == "c":
            assert r["worker"] == 0
    # same ns -> same worker
    by_ns = out.filter(F.col("op") != "c").groupBy("ns").agg(
        F.countDistinct("worker").alias("w")
    ).collect()
    assert all(r["w"] == 1 for r in by_ns)


def test_worker_by_id_preserves_per_key_order(spark):
    # 50 ops over 5 documents: every op on one document must land on the
    # SAME worker (the P2 contract — hashing the op ordinal instead would
    # scatter them), sorted by ts within the partition
    rows = [(i, 100 - i, i % 5, "i", "a.b", "{}", None) for i in range(50)]
    df = spark.createDataFrame(
        rows, "id long, ts long, user_id long, op string, ns string, o string, g string"
    )
    out = partitioners.worker_by_id(df, 8)
    per_key = (
        out.groupBy("user_id").agg(F.countDistinct("worker").alias("w")).collect()
    )
    assert all(r["w"] == 1 for r in per_key)

    def check(it):
        last = None
        for row in it:
            assert last is None or row["ts"] >= last
            last = row["ts"]
        return iter([])

    out.select("ts", "worker").rdd.mapPartitions(
        lambda it: check(list(it))
    ).count()


def test_worker_by_whitelist_hashes_listed_ns_by_key_others_by_ns(spark):
    """P3 (oplog/hasher.go:87-110): a whitelisted collection hashes by the
    document key, so one key lands on one worker across whitelisted
    namespaces and its keys spread; any other namespace hashes by ns,
    so all of its rows share one worker."""
    rows = [
        (i, i, k, "i", ns, "{}", None)
        for i, (k, ns) in enumerate(
            (k, ns) for ns in ("a.hot", "a.hot2", "b.cold") for k in range(20)
        )
    ]
    df = spark.createDataFrame(
        rows, "id long, ts long, user_id long, op string, ns string, o string, g string"
    )
    out = partitioners.worker_by_whitelist(df, 8, ["a.hot", "a.hot2"]).collect()
    by = {(r["ns"], r["user_id"]): r["worker"] for r in out}
    assert all(by["a.hot", k] == by["a.hot2", k] for k in range(20))
    assert len({by["a.hot", k] for k in range(20)}) > 1
    assert len({by["b.cold", k] for k in range(20)}) == 1
    want = spark.sql(
        "SELECT pmod(abs(hash('b.cold')), 8) AS w, pmod(abs(hash('7')), 8) AS k"
    ).first()
    assert by["b.cold", 0] == want["w"] and by["a.hot", 7] == want["k"]


# ---------------------------------------------------------------------------
# combiner / merge
# ---------------------------------------------------------------------------

def test_write_groups_caps(spark):
    rows = [(i, i, "i", "a.b", "{}", None) for i in range(2500)]
    out = combiner.write_groups(_oplog_df(spark, rows))
    counts = {r["grp"]: r["cnt"] for r in
              out.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {0: 1000, 1: 1000, 2: 500}


def test_ddl_barriers_segmentation(spark):
    ops = ["i", "c", "i", "i", "c", "u"]
    rows = [(i, i, op, "a.b", "{}", None) for i, op in enumerate(ops)]
    out = combiner.ddl_barriers(_oplog_df(spark, rows)).orderBy("id").collect()
    assert [r["barrier_id"] for r in out] == [0, 1, 1, 1, 2, 2]


def test_merge_upsert_out_of_order_delete(spark):
    """Tombstone retention: a delete with a HIGHER ordinal arriving in an
    EARLIER batch must not be resurrected by later-arriving lower ops."""
    b1 = spark.createDataFrame([(7, 9.0, 100, "d")], "user_id long, value double, id long, op string")
    b2 = spark.createDataFrame([(7, 5.0, 50, "u")], "user_id long, value double, id long, op string")
    s1 = merge.merge_upsert(None, b1)
    s2 = merge.merge_upsert(s1, b2)
    assert merge.visible(s2).count() == 0


def test_merge_segment_associativity(spark):
    import random

    random.seed(7)
    rows = [
        (random.randrange(5), float(i), i, random.choice("iud")) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "user_id long, value double, id long, op string")
    whole = {r["user_id"]: r["value"] for r in merge.visible(merge.merge_upsert(None, df)).collect()}
    s = None
    for lo in range(0, 200, 50):
        part = df.filter((F.col("id") >= lo) & (F.col("id") < lo + 50))
        s = merge.merge_upsert(s, part)
    split = {r["user_id"]: r["value"] for r in merge.visible(s).collect()}
    assert whole == split


def test_filter_namespace_ddl_matches_predicate_form(spark):
    from mongoshake_spark.operators import filters

    rows = [
        (1, "c", "db1.$cmd", '{"create":"t1"}'),          # keep: db1.t1 white
        (2, "c", "db9.$cmd", '{"create":"t1"}'),          # drop: db9 not white
        (3, "c", "db1.$cmd", '{"startIndexBuild":"t1"}'),  # drop: always-drop cmd
        (4, "c", "db9.$cmd", '{"applyOps":"x"}'),          # keep: applyOps
        (5, "i", "db1.t2", '{"_id":1}'),                   # keep: white ns
        (6, "i", "db9.t2", '{"_id":1}'),                   # drop
        (7, "c", "db1.$cmd", '{"drop":{"bad":1}}'),        # keep: illegal value
    ]
    df = spark.createDataFrame(rows, "id bigint, op string, ns string, o string")
    pred = filters.keep_namespace_ddl(whitelist=["db1"])
    a = sorted(r["id"] for r in df.filter(pred).collect())
    b = sorted(r["id"] for r in filters.filter_namespace_ddl(df, whitelist=["db1"]).collect())
    assert a == b == [1, 4, 5, 7]
    assert filters.filter_namespace_ddl(df, whitelist=["db1"]).columns == df.columns


def test_ns_regex_escapes_all_metachars(spark):
    import re

    from mongoshake_spark.operators import filters

    rx = re.compile(filters.compile_ns_regex(["db.c(1)", "admin.$cmd"]))
    assert rx.match("db.c(1)")
    assert not rx.match("db.c1")  # parens must not become a capture group
    assert rx.match("admin.$cmd")  # '$' must not act as an anchor
    assert rx.match("db.c(1).sub")
    assert not rx.match("db.cX")


def test_ns_transform_uses_passed_column(spark):
    """ns_transform must read the column it was handed, not a hardcoded
    `ns` — with both columns present the suffix must come from the passed
    one."""
    from mongoshake_spark.operators import transforms

    df = spark.createDataFrame(
        [("WRONG.suffix", "db0.coll")], "ns string, ns_out string"
    )
    got = df.select(
        transforms.ns_transform(F.col("ns_out"), [("db0", "tgt")]).alias("r")
    ).collect()[0]["r"]
    assert got == "tgt.coll"


def test_exit_point_cutoff(spark):
    from mongoshake_spark.operators import combiner

    rows = [(i, 1000 + i, "i", "a.b", "{}", None) for i in range(10)]
    out = combiner.exit_point(_oplog_df(spark, rows), 1004).collect()
    assert sorted(r["ts"] for r in out) == [1000, 1001, 1002, 1003, 1004]
