"""W6 catalog-backed DDL execution (executor/db_writer.go:61-219 RunCommand)
— each command oplog's observable effect on the Spark catalog."""

from __future__ import annotations

import json

import pytest

from mongoshake_spark.streaming.ddl import INDEX_PROP, SparkCatalogDDL


@pytest.fixture()
def ddl(spark):
    ex = SparkCatalogDDL(spark)
    yield ex
    for db in ("w6a", "w6b", "w6ren"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _tables(spark, db):
    if not spark.catalog.databaseExists(db):
        return []
    return sorted(t.name for t in spark.catalog.listTables(db))


def test_create_and_drop(spark, ddl):
    assert ddl.execute("w6a.$cmd", '{"create":"t1"}') == "create"
    assert ddl.execute("w6a.$cmd", '{"create":"t1"}') == "create"  # idempotent
    assert _tables(spark, "w6a") == ["t1"]
    assert ddl.execute("w6a.$cmd", '{"drop":"t1"}') == "drop"
    assert _tables(spark, "w6a") == []


def test_rename_same_and_cross_db(spark, ddl):
    ddl.execute("w6a.$cmd", '{"create":"src"}')
    spark.sql("INSERT INTO w6a.src VALUES ('k1', '{}')")
    assert (
        ddl.execute("admin.$cmd", '{"renameCollection":"w6a.src","to":"w6a.dst"}')
        == "renameCollection"
    )
    assert _tables(spark, "w6a") == ["dst"]
    assert (
        ddl.execute("admin.$cmd", '{"renameCollection":"w6a.dst","to":"w6ren.far"}')
        == "renameCollection"
    )
    assert _tables(spark, "w6a") == []
    assert spark.sql("SELECT count(*) FROM w6ren.far").collect()[0][0] == 1


def test_drop_database_cascade(spark, ddl):
    ddl.execute("w6b.$cmd", '{"create":"x"}')
    ddl.execute("w6b.$cmd", '{"create":"y"}')
    assert ddl.execute("w6b.$cmd", '{"dropDatabase":1}') == "dropDatabase"
    assert not spark.catalog.databaseExists("w6b")


def test_create_indexes_lands_in_tblproperties(spark, ddl):
    """createIndexes inline form (db_writer.go:67-88) and commitIndexBuild
    array form (:89-124) both merge W12-stripped specs into the table
    property; dropIndexes removes by name."""
    ddl.execute(
        "w6a.$cmd",
        '{"createIndexes":"t2","v":2,"key":{"count":1},"name":"count_1","ns":"w6a.t2"}',
    )
    ddl.execute(
        "w6a.$cmd",
        '{"commitIndexBuild":"t2","indexes":['
        '{"v":2,"key":{"type":1},"name":"type_1"},'
        '{"v":2,"key":{"_id":1},"name":"_id_"}]}',
    )
    specs = ddl._get_prop("w6a", "t2", INDEX_PROP)
    assert {s["name"] for s in specs} == {"count_1", "type_1"}  # _id skipped
    assert all("ns" not in s and "v" not in s for s in specs)
    ddl.execute("w6a.$cmd", '{"dropIndexes":"t2","index":"count_1"}')
    specs = ddl._get_prop("w6a", "t2", INDEX_PROP)
    assert {s["name"] for s in specs} == {"type_1"}


def test_drop_indexes_without_index_arg_is_illegal(spark, ddl):
    """ADVICE round-3: MongoDB errors on dropIndexes without an index
    argument — a malformed oplog must not be treated as '*' and silently
    wipe every recorded spec."""
    ddl.execute(
        "w6a.$cmd",
        '{"createIndexes":"t3","v":2,"key":{"a":1},"name":"a_1"}',
    )
    assert ddl.execute("w6a.$cmd", '{"dropIndexes":"t3"}') == "ignored-illegal"
    assert {s["name"] for s in ddl._get_prop("w6a", "t3", INDEX_PROP)} == {"a_1"}
    # the explicit wildcard still clears everything
    assert ddl.execute("w6a.$cmd", '{"dropIndexes":"t3","index":"*"}') == "dropIndexes"
    assert ddl._get_prop("w6a", "t3", INDEX_PROP) == []


def test_cross_db_rename_preserves_index_properties(spark, ddl):
    """ADVICE round-3: the CTAS+DROP cross-db rename must carry the
    mongoshake.* TBLPROPERTIES — losing the W12 index spec on a move is
    state loss."""
    ddl.execute("w6a.$cmd", '{"create":"mv"}')
    ddl.execute(
        "w6a.$cmd",
        '{"createIndexes":"mv","v":2,"key":{"b":1},"name":"b_1"}',
    )
    ddl.execute("admin.$cmd", '{"renameCollection":"w6a.mv","to":"w6ren.mv2"}')
    assert {s["name"] for s in ddl._get_prop("w6ren", "mv2", INDEX_PROP)} == {"b_1"}


def test_illegal_and_unknown_commands_recorded(spark, ddl):
    assert ddl.execute("w6a.$cmd", '{"create":{"x":1}}') == "ignored-illegal"
    assert ddl.execute("w6a.$cmd", "not-json") == "unparseable"
    assert ddl.execute("w6a.$cmd", '{"shardCollection":"w6a.z"}') == "applyOps-wrapped"
    assert [a[0] for a in ddl.actions] == [
        "ignored-illegal", "unparseable", "applyOps-wrapped",
    ]


def test_kernel_executes_ddl_in_barrier_order(spark, tmp_path, ddl):
    """End-to-end through the apply kernel: a batch whose DDLs create,
    index, then drop a table must leave the catalog in the sequential
    final state, with the journal in (ts, id) order."""
    import datetime

    from mongoshake_spark.streaming.apply import ApplyKernel

    t0 = datetime.datetime(2024, 1, 1)
    cmds = [
        json.dumps({"create": "life"}),
        json.dumps({"createIndexes": "life", "v": 2, "key": {"a": 1}, "name": "a_1"}),
        json.dumps({"renameCollection": "w6a.life", "to": "w6a.life2"}),
        json.dumps({"drop": "life2"}),
    ]
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1, "c", "w6a.$cmd", 0.0, o)
        for i, o in enumerate(cmds, start=1)
    ]
    batch = spark.createDataFrame(
        rows,
        "id long, ts timestamp, user_id long, op string, ns string, value double, o string",
    )
    kernel = ApplyKernel(spark, str(tmp_path / "t"), ddl_executor=ddl)
    kernel.process_batch(batch, 0)
    assert [a[0] for a in ddl.actions] == [
        "create", "createIndexes", "renameCollection", "drop",
    ]
    assert _tables(spark, "w6a") == []
    assert [e[0] for e in kernel.ddl_log] == [1, 2, 3, 4]


def test_execute_null_payload_is_unparseable(ddl):
    assert ddl.execute("w6a.$cmd", None) == "unparseable"


def test_drop_indexes_array_and_keypattern_forms(spark, ddl):
    import json

    ddl.execute("w6a.$cmd", json.dumps({"create": "c1"}))
    ddl.execute(
        "w6a.$cmd",
        json.dumps({"commitIndexBuild": "c1", "indexes": [
            {"name": "i1", "key": {"a": 1}},
            {"name": "i2", "key": {"b": 1}},
            {"name": "i3", "key": {"c": 1}},
        ]}),
    )
    # array-of-names form
    assert ddl.execute(
        "w6a.$cmd", json.dumps({"dropIndexes": "c1", "index": ["i1", "i2"]})
    ) == "dropIndexes"
    left = [s["name"] for s in ddl._get_prop("w6a", "c1", INDEX_PROP)]
    assert left == ["i3"]
    # key-pattern-document form
    assert ddl.execute(
        "w6a.$cmd", json.dumps({"dropIndexes": "c1", "index": {"c": 1}})
    ) == "dropIndexes"
    assert ddl._get_prop("w6a", "c1", INDEX_PROP) == []


def test_prop_roundtrip_survives_backslashes_and_quotes(spark):
    """W12 spec storage: payloads containing backslash escapes and
    quotes (a validator regex like \\d, an apostrophe) must round-trip
    through TBLPROPERTIES — Spark string literals interpret BOTH quote
    doubling and backslash escapes, so both need escaping on write."""
    import json

    from mongoshake_spark.streaming.ddl import SparkCatalogDDL

    ddl = SparkCatalogDDL(spark)
    ddl.execute("propdb.$cmd", json.dumps({"create": "c1"}))
    spec = [{"name": "ix1", "key": {"f": 1}, "pattern": "\\d+'s \"quoted\""}]
    ddl._set_prop("propdb", "c1", "mongoshake.indexes", spec)
    got = ddl._get_prop("propdb", "c1", "mongoshake.indexes")
    assert got == spec
    ddl.execute("propdb.$cmd", json.dumps({"dropDatabase": 1}))
