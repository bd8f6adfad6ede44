"""The executable surface (python -m mongoshake_spark): conf-dialect
parsing with the reference's literal key names, and the full -> verify
flow through main()."""

from __future__ import annotations

import json

import pytest

from mongoshake_spark.__main__ import main, parse_conf
from mongoshake_spark.config import ConfigError

CONF = """# reference-style conf (conf/collector.conf dialect)
sync_mode = full
tunnel = direct
tunnel.address = mongodb://127.0.0.1:20080
filter.namespace.white = db1;db2.t3
filter.namespace.black =
filter.ddl_enable = true
oplog.gids = g1;g2
incr_sync.worker = 4
incr_sync.shard_key = collection
incr_sync.adaptive.batching_max_size = 2048
checkpoint.interval = 5000
mongo_urls = mongodb://127.0.0.1:27017
"""


def test_parse_conf_reference_dialect(tmp_path):
    p = tmp_path / "c.conf"
    p.write_text(CONF)
    cfg, extra = parse_conf(str(p))
    assert cfg.sync_mode == "full"
    assert cfg.ns_whitelist == ("db1", "db2.t3")
    assert cfg.ns_blacklist == ()  # empty value -> empty tuple
    assert cfg.gids == ("g1", "g2")
    assert cfg.workers == 4 and cfg.batch_rows == 2048
    assert cfg.shard_key == "collection"
    assert extra["tunnel"] == {
        "tunnel": "direct",
        "tunnel.address": "mongodb://127.0.0.1:20080",
    }
    # unmapped reference keys are reported, not fatal
    assert extra["unknown"] == ["mongo_urls"]


def test_parse_conf_validation_failure(tmp_path):
    p = tmp_path / "bad.conf"
    p.write_text("sync_mode = sideways\n")
    with pytest.raises(ConfigError):
        parse_conf(str(p))


def test_cli_dry_run(tmp_path, capsys):
    p = tmp_path / "c.conf"
    p.write_text(CONF)
    assert main(["--conf", str(p), "--dry-run"]) == 0
    plan = json.loads(capsys.readouterr().out)
    assert plan["mode"] == "full"
    assert plan["config"]["ns_whitelist"] == ["db1", "db2.t3"]


def test_cli_full_then_verify_then_diff(spark, sf_dir, tmp_path, capsys):
    """The operator's loop: full sync, verify (in sync, exit 0), corrupt
    the copy, verify again (diffs, exit 1)."""
    import shutil

    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir, "--target-dir", target]) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["tables"]["customer"] > 0

    assert main([
        "--sync-mode", "verify", "--source-dir", sf_dir, "--target-dir", target,
    ]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["in_sync"] is True

    # corrupt: drop some customers from the copy
    cust = spark.read.parquet(f"{target}/customer")
    kept = cust.filter("c_custkey % 10 != 1")
    kept.localCheckpoint(eager=True).write.mode("overwrite").parquet(f"{target}/customer")
    assert main([
        "--sync-mode", "verify", "--source-dir", sf_dir, "--target-dir", target,
    ]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["in_sync"] is False
    assert all(d["status"] == "missing_in_dst" for d in out["diffs"])
    shutil.rmtree(target, ignore_errors=True)


def test_cli_missing_flags_error(capsys):
    assert main(["--sync-mode", "incr"]) == 2
    err = capsys.readouterr().err
    assert "missing required flags" in err


def test_cli_incr_mode_drains_feed(spark, sf_dir, tmp_path, capsys):
    """The incr arm: a replay feed drains through the apply kernel via
    the CLI, with conf-provided admission (files_per_trigger)."""
    from pyspark.sql import functions as F

    from mongoshake_spark.sources.oplog import oplog_view
    from mongoshake_spark.sources.tables import load_table
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    n_files = write_replay_feed(spark, sf_dir, feed, batch_rows=500)
    assert n_files >= 2
    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    rc = main([
        "--sync-mode", "incr", "--source-dir", sf_dir, "--target-dir", target,
        "--feed-dir", feed, "--checkpoint-dir", ckpt,
    ])
    assert rc == 0
    json.loads(capsys.readouterr().out)  # well-formed report
    # final state == batch last-writer-wins reconstruction
    from mongoshake_spark.operators.merge import last_writer_wins

    want = last_writer_wins(oplog_view(load_table(spark, sf_dir, "events"))).count()
    got = spark.read.parquet(target).drop("_bucket").filter(F.col("op") != "d").count()
    assert got == want


def test_cli_all_mode(spark, sf_dir, tmp_path, capsys):
    """The 'all' arm: snapshot + catch-up stream, reporting both planes."""
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=500)
    rc = main([
        "--sync-mode", "all", "--source-dir", sf_dir,
        "--target-dir", str(tmp_path / "t"), "--feed-dir", feed,
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["mode"] == "all" and out["snapshot_rows"] > 0


def test_cli_verify_sample_mode(spark, sf_dir, tmp_path, capsys):
    """--verify-sample N/D: the deterministic sample cut reaches the
    verifier (diffs are a subset of the full run's)."""
    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir, "--target-dir", target]) == 0
    capsys.readouterr()
    cust = spark.read.parquet(f"{target}/customer")
    cust.filter("c_custkey % 7 != 0").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(f"{target}/customer")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target]) == 1
    full = {d["key"] for d in json.loads(capsys.readouterr().out)["diffs"]}
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-sample", "1/2"]) == 1
    sampled = {d["key"] for d in json.loads(capsys.readouterr().out)["diffs"]}
    assert sampled and sampled < full


def test_cli_verify_sample_malformed_inputs_exit_2(sf_dir, tmp_path, capsys):
    """ADVICE round-4: 'a/b' must exit 2 with a conf-error message (not a
    ValueError traceback); '0/100' (verifies nothing, reports in_sync) and
    '1/0' (silently verifies everything) must be rejected the same way."""
    # leading-dash forms like '-1/2' are rejected by argparse itself
    # (SystemExit 2 with a usage message) before main's validation runs
    for bad in ("a/b", "0/100", "1/0", "1/2/3", "", "1//2", "0"):
        rc = main(["--sync-mode", "verify", "--source-dir", sf_dir,
                   "--target-dir", str(tmp_path / "t"),
                   "--verify-sample", bad])
        err = capsys.readouterr().err
        assert rc == 2, bad
        assert "verify-sample" in err, bad


def test_cli_verify_attribute_names_columns(spark, sf_dir, tmp_path, capsys):
    from pyspark.sql import functions as F

    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    cust = spark.read.parquet(f"{target}/customer")
    mutated = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 100 == 0, F.lit("MUT")).otherwise(
            F.col("c_mktsegment")
        ),
    ).localCheckpoint(eager=True)
    mutated.write.mode("overwrite").parquet(f"{target}/customer")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-attribute"]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["n_diffs"] > 0
    assert all(d["diff_cols"] == ["c_mktsegment"] for d in out["diffs"]
               if d["status"] == "differs")


def test_cli_verify_all_tables(spark, sf_dir, tmp_path, capsys):
    """--verify-table all: every synced table verifies with its own key
    (composite for lineitem); corrupting ONE table fails just that entry
    and the run; a missing target table is itself a divergence."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["in_sync"] is True
    assert set(out["tables"]) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    # corrupt one table (composite-key table, to exercise that path)
    li = spark.read.parquet(f"{target}/lineitem")
    li.filter("l_linenumber != 1 OR l_orderkey % 13 != 0").localCheckpoint(
        eager=True
    ).write.mode("overwrite").parquet(f"{target}/lineitem")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all"]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["in_sync"] is False
    assert out["tables"]["lineitem"]["in_sync"] is False
    assert out["tables"]["customer"]["in_sync"] is True
    # and a missing table reports as such
    import shutil

    shutil.rmtree(f"{target}/region")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all"]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["tables"]["region"] == {"in_sync": False, "missing_table": True}


def test_cli_verify_writes_repair_plan(spark, sf_dir, tmp_path, capsys):
    """--repair-dir: a diverged verify writes the healing op-set; applying
    it makes the target verify clean. Refused under --verify-sample."""
    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    cust = spark.read.parquet(f"{target}/customer")
    cust.filter("c_custkey % 9 != 2").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(f"{target}/customer")
    repair_dir = str(tmp_path / "repair")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--repair-dir", repair_dir]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["repair_plan"] == f"{repair_dir}/customer"
    ops = spark.read.parquet(out["repair_plan"])
    assert {r["op"] for r in ops.collect()} == {"i"}
    # apply the plan -> clean verify
    from mongoshake_spark.plans.repair import apply_repair

    healed = apply_repair(
        spark.read.parquet(f"{target}/customer"), ops, "c_custkey"
    ).localCheckpoint(eager=True)
    healed.write.mode("overwrite").parquet(f"{target}/customer")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    # sampled repair refused
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--repair-dir", repair_dir,
                 "--verify-sample", "1/2"]) == 2
    assert "repair-dir" in capsys.readouterr().err


def test_cli_verify_all_empty_source_is_an_error_not_in_sync(tmp_path, capsys):
    """A source root with no known table must exit 2 with a message — a
    verifier must never report in_sync over work it never did (a typo'd
    --source-dir previously printed in_sync=true, tables={})."""
    empty = str(tmp_path / "nothing")
    import os

    os.makedirs(empty)
    rc = main(["--sync-mode", "verify", "--source-dir", empty,
               "--target-dir", str(tmp_path / "t"), "--verify-table", "all"])
    assert rc == 2
    assert "no known table" in capsys.readouterr().err


def test_cli_verify_known_table_uses_own_key(spark, sf_dir, tmp_path, capsys):
    """--verify-table orders without --verify-key verifies on o_orderkey
    (the known-table map), not the old c_custkey default."""
    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "orders"]) == 0
    assert json.loads(capsys.readouterr().out)["in_sync"] is True


def test_cli_repair_mode_closes_the_loop(spark, sf_dir, tmp_path, capsys):
    """full -> corrupt two tables (one composite-key) -> verify --repair-dir
    -> sync-mode repair -> verify clean. The whole operator loop through
    the CLI, no Python API required."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    cust = spark.read.parquet(f"{target}/customer")
    cust.filter("c_custkey % 11 != 3").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(f"{target}/customer")
    li = spark.read.parquet(f"{target}/lineitem")
    li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 17 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    ).localCheckpoint(eager=True).write.mode("overwrite").parquet(
        f"{target}/lineitem"
    )
    repair_dir = str(tmp_path / "repair")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all",
                 "--repair-dir", repair_dir]) == 1
    capsys.readouterr()
    assert main(["--sync-mode", "repair", "--target-dir", target,
                 "--repair-dir", repair_dir]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert set(rep["tables"]) == {"customer", "lineitem"}
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all"]) == 0
    assert json.loads(capsys.readouterr().out)["in_sync"] is True
    # repair with an empty plan dir is a conf error, not a silent pass
    import os

    empty = str(tmp_path / "noplans")
    os.makedirs(empty)
    assert main(["--sync-mode", "repair", "--target-dir", target,
                 "--repair-dir", empty]) == 2


def test_cli_verify_and_repair_nanos_timestamp_source(spark, tmp_path, capsys):
    """A TIMESTAMP(NANOS) source column reads the same way in full sync,
    verify and repair: a clean copy verifies in sync, and a diverged one
    repairs back to in sync."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongoshake_spark.plans.full_sync import full_sync

    src = tmp_path / "src"
    src.mkdir()
    ts = [1_700_000_000_000_001_000 + k * 1_000_000 for k in range(3)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "value": pa.array([0.5, 1.5, 2.5]),
        }),
        src / "events.parquet",
    )
    target = str(tmp_path / "t")
    verify = ["--sync-mode", "verify", "--source-dir", str(src),
              "--target-dir", target, "--verify-table", "events",
              "--verify-key", "event_id"]
    # the full-sync mode's copy, restricted to the one table
    full_sync(spark, str(src), target, tables=("events",))
    assert main(verify) == 0
    assert json.loads(capsys.readouterr().out)["in_sync"] is True

    events = spark.read.parquet(f"{target}/events")
    events.filter("event_id != 2").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(f"{target}/events")
    repair_dir = str(tmp_path / "repair")
    assert main([*verify, "--repair-dir", repair_dir]) == 1
    capsys.readouterr()
    assert main(["--sync-mode", "repair", "--target-dir", target,
                 "--repair-dir", repair_dir]) == 0
    capsys.readouterr()
    assert main(verify) == 0
    assert json.loads(capsys.readouterr().out)["in_sync"] is True


def test_cli_repair_recreates_dropped_table_and_ignores_stale_plans(
    spark, sf_dir, tmp_path, capsys
):
    """A table dropped from the target gets a full-recreation plan; and
    the repair arm applies ONLY the manifest's tables, so a stale plan
    from an earlier verify run cannot regress a now-current table."""
    import shutil

    target = str(tmp_path / "t")
    assert main(["--sync-mode", "full", "--source-dir", sf_dir,
                 "--target-dir", target]) == 0
    capsys.readouterr()
    repair_dir = str(tmp_path / "repair")
    # run 1: corrupt customer -> plan written for customer
    cust = spark.read.parquet(f"{target}/customer")
    cust.filter("c_custkey % 5 != 0").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(f"{target}/customer")
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all",
                 "--repair-dir", repair_dir]) == 1
    capsys.readouterr()
    # operator fixes customer out-of-band (fresh copy) but leaves the
    # stale customer plan on disk, then drops region entirely
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.mode(
        "overwrite"
    ).parquet(f"{target}/customer")
    shutil.rmtree(f"{target}/region")
    # run 2: only region diverges -> manifest lists ONLY region
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all",
                 "--repair-dir", repair_dir]) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["tables"]["region"]["repair_plan"]
    assert out["tables"]["customer"]["in_sync"] is True
    assert main(["--sync-mode", "repair", "--target-dir", target,
                 "--repair-dir", repair_dir]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert set(rep["tables"]) == {"region"}  # stale customer plan ignored
    assert main(["--sync-mode", "verify", "--source-dir", sf_dir,
                 "--target-dir", target, "--verify-table", "all"]) == 0


def test_cli_http_port_keys_parse_and_reject_garbage(tmp_path):
    p = tmp_path / "c.conf"
    p.write_text("sync_mode = incr\nincr_sync.http_port = 9100\n"
                 "full_sync.http_port = 9101\nsystem_profile_port = 9200\n")
    _, extra = parse_conf(str(p))
    assert extra["http"] == {
        "incr_sync.http_port": 9100,
        "full_sync.http_port": 9101,
        "system_profile_port": 9200,
    }
    p.write_text("incr_sync.http_port = lots\n")
    with pytest.raises(ConfigError, match="integer port"):
        parse_conf(str(p))
    # blank value = disabled, tolerated like every other blank key
    p.write_text("incr_sync.http_port =\n")
    _, extra = parse_conf(str(p))
    assert extra["http"] == {}


def test_cli_incr_mode_serves_metrics(spark, sf_dir, tmp_path, capsys):
    """incr_sync.http_port (collector.conf:31): the incr arm serves the
    /repl surface for the duration of the run and reports the final
    snapshot in its JSON output."""
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=2000)
    conf = tmp_path / "c.conf"
    # port 0 = OS-assigned: the test only needs the wiring, not a fixed port
    conf.write_text("sync_mode = incr\nincr_sync.http_port = 0\n")
    rc = main([
        "--conf", str(conf),
        "--source-dir", sf_dir, "--target-dir", str(tmp_path / "state"),
        "--feed-dir", feed, "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["metrics"]["rows_in"] > 0 and out["metrics"]["batches"] >= 1


def test_cli_direct_tunnel_address_must_carry_namespace(spark, sf_dir, tmp_path, capsys):
    """tunnel=direct needs mongodb://host/db.coll — a bare host address
    cannot name the target namespace and must fail at wiring, not in an
    executor."""
    conf = tmp_path / "c.conf"
    conf.write_text(
        "sync_mode = incr\ntunnel = direct\n"
        "tunnel.address = mongodb://127.0.0.1:27017\n"
    )
    rc = main([
        "--conf", str(conf),
        "--source-dir", sf_dir, "--target-dir", str(tmp_path / "state"),
        "--feed-dir", str(tmp_path / "feed"), "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "db.coll" in err


def test_cli_direct_tunnel_rejects_non_mongodb_scheme(spark, sf_dir, tmp_path, capsys):
    """A configured live target that cannot be wired must fail loudly —
    a scheme-less address must not silently skip the mirror."""
    conf = tmp_path / "c.conf"
    conf.write_text(
        "sync_mode = incr\ntunnel = direct\n"
        "tunnel.address = 127.0.0.1:27017/db.coll\n"
    )
    rc = main([
        "--conf", str(conf),
        "--source-dir", sf_dir, "--target-dir", str(tmp_path / "state"),
        "--feed-dir", str(tmp_path / "feed"), "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 2
    assert "mongodb://" in capsys.readouterr().err


def test_cli_http_port_bind_failure_is_conf_error(spark, sf_dir, tmp_path, capsys):
    import socket

    from mongoshake_spark.streaming.replay import write_replay_feed

    blocker = socket.socket()
    blocker.bind(("127.0.0.1", 0))
    port = blocker.getsockname()[1]
    try:
        feed = str(tmp_path / "feed")
        write_replay_feed(spark, sf_dir, feed, batch_rows=5000)
        conf = tmp_path / "c.conf"
        conf.write_text(f"sync_mode = incr\nincr_sync.http_port = {port}\n")
        rc = main([
            "--conf", str(conf),
            "--source-dir", sf_dir, "--target-dir", str(tmp_path / "state"),
            "--feed-dir", feed, "--checkpoint-dir", str(tmp_path / "ck"),
        ])
        assert rc == 2
        assert "could not bind" in capsys.readouterr().err
    finally:
        blocker.close()


def test_cli_incr_multi_ns_routes_per_namespace(spark, sf_dir, tmp_path, capsys):
    """--multi-ns: the whole-deployment shape through the CLI — every
    namespace lands in the one table at TARGET_DIR and each equals its
    own per-ns last-writer-wins reconstruction."""
    from pyspark.sql import functions as F

    from mongoshake_spark.operators.merge import last_writer_wins
    from mongoshake_spark.sources.oplog import oplog_view
    from mongoshake_spark.sources.tables import load_table
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=5000)
    root = str(tmp_path / "root")
    rc = main([
        "--sync-mode", "incr", "--multi-ns",
        "--source-dir", sf_dir, "--target-dir", root,
        "--feed-dir", feed, "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    ov = oplog_view(load_table(spark, sf_dir, "events"))
    all_ns = sorted(r["ns"] for r in ov.select("ns").distinct().collect())
    want = {
        ns: {
            r["user_id"]: r["value"]
            for r in last_writer_wins(ov.filter(F.col("ns") == ns)).collect()
        }
        for ns in all_ns
    }
    # the namespaces holding live documents in the target
    assert out["namespaces"] == [ns for ns in all_ns if want[ns]]
    assert out["ddl_applied"] == ov.filter(F.col("op") == "c").count()
    state = spark.read.parquet(root).filter(F.col("op") != "d")
    for ns in all_ns[:3]:  # spot-check three namespaces
        got = {
            r["user_id"]: r["value"]
            for r in state.filter(F.col("ns") == ns)
            .select("user_id", "value")
            .collect()
        }
        assert got == want[ns]


def test_cli_multi_ns_counts_each_command_once(spark, sf_dir, tmp_path, capsys):
    """One db0.$cmd row in a batch that carries two db0 namespaces is one
    applied DDL: it runs once through the kernel's barrier, so
    ``ddl_applied`` counts it once."""
    import datetime
    import os

    t0 = datetime.datetime(2024, 1, 1)
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [
            (1, t0, 1, "i", "db0.a", 1.0, "{}"),
            (2, t0, 2, "i", "db0.b", 2.0, "{}"),
            (3, t0, 3, "c", "db0.$cmd", None, '{"create": "a2"}'),
        ],
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string",
    ).coalesce(1).write.parquet(feed)
    root = str(tmp_path / "root")
    rc = main([
        "--sync-mode", "incr", "--multi-ns",
        "--source-dir", sf_dir, "--target-dir", root,
        "--feed-dir", feed, "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["ddl_applied"] == 1
    assert out["namespaces"] == ["db0.a", "db0.b"]
    assert not any("$cmd" in d for d in os.listdir(root))


def test_cli_multi_ns_refuses_single_collection_mirror(spark, sf_dir, tmp_path, capsys):
    conf = tmp_path / "c.conf"
    conf.write_text(
        "sync_mode = incr\ntunnel = direct\n"
        "tunnel.address = mongodb://127.0.0.1:27017/db.coll\n"
    )
    try:
        import pymongo  # noqa: F401
    except ImportError:
        import pytest

        pytest.skip("pymongo absent: the mirror gate fires before the check")
    rc = main([
        "--conf", str(conf), "--multi-ns",
        "--source-dir", sf_dir, "--target-dir", str(tmp_path / "t"),
        "--feed-dir", str(tmp_path / "feed"), "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 2
    assert "multi-ns" in capsys.readouterr().err


def test_cli_multi_ns_requires_incr_mode(tmp_path, capsys):
    rc = main([
        "--sync-mode", "full", "--multi-ns",
        "--source-dir", "/root/testdata/sf0.001", "--target-dir", str(tmp_path / "t"),
    ])
    assert rc == 2
    assert "--multi-ns" in capsys.readouterr().err


def test_cli_file_tunnel_mirror_with_raw_codec(spark, sf_dir, tmp_path, capsys):
    """tunnel = file + tunnel.message = raw: the incr run appends every
    committed batch's net ops as byte-exact TMessage frames under
    tunnel.address; decoding them back yields exactly the target's final
    per-key state (the mirror delivery contract, S9 form)."""
    from mongoshake_spark.sources.tunnel import decode_raw_frames
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=2000)
    tun = str(tmp_path / "tunnel_out")
    conf = tmp_path / "c.conf"
    conf.write_text(
        f"sync_mode = incr\ntunnel = file\ntunnel.address = {tun}\n"
        "tunnel.message = raw\n"
    )
    rc = main([
        "--conf", str(conf),
        "--source-dir", sf_dir, "--target-dir", str(tmp_path / "state"),
        "--feed-dir", feed, "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    json.loads(capsys.readouterr().out)  # well-formed report
    frames = spark.read.parquet(tun)
    good, corrupt = decode_raw_frames(
        frames.select("shard", "value"), "user_id bigint, value double, op string"
    )
    assert corrupt.count() == 0  # every frame passes the CRC gate
    assert good.count() == frames.count()
    # delivery contract: the mirror emits committed per-key state, so
    # every key in the final target appeared in some mirrored frame
    state = spark.read.parquet(str(tmp_path / "state"))
    mirrored = {r["user_id"] for r in good.select("user_id").distinct().collect()}
    state_keys = {r["user_id"] for r in state.select("user_id").collect()}
    assert len(mirrored) > 0 and state_keys <= mirrored


def test_cli_file_tunnel_requires_address(tmp_path, capsys):
    conf = tmp_path / "c.conf"
    conf.write_text("sync_mode = incr\ntunnel = file\n")
    rc = main([
        "--conf", str(conf),
        "--source-dir", "/x", "--target-dir", str(tmp_path / "s"),
        "--feed-dir", "/x", "--checkpoint-dir", str(tmp_path / "ck"),
    ])
    assert rc == 2
    assert "tunnel.address" in capsys.readouterr().err


def test_cli_rejects_unknown_tunnel_message(tmp_path, capsys):
    conf = tmp_path / "c.conf"
    conf.write_text("tunnel.message = avro\n")
    assert main(["--conf", str(conf), "--dry-run"]) == 2
    assert "tunnel.message" in capsys.readouterr().err


def test_cli_receiver_daemon_two_process_end_state(spark, sf_dir, tmp_path, capsys):
    """The cmd/receiver split as two real processes (the
    receiver/replayer_test.go shape): a --sync-mode receive daemon in its
    own interpreter/JVM announces its bound port; a tunnel=tcp collector
    ships the replay feed through the live socket (applying nothing
    locally); the receiver's materialized target must equal the
    last-writer-wins reconstruction of the feed."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from mongoshake_spark.operators.merge import last_writer_wins
    from mongoshake_spark.sources.oplog import oplog_view
    from mongoshake_spark.sources.tables import load_table
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=500)
    target = str(tmp_path / "recv_target")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_SHUFFLE_PARTITIONS="8",
        SPARK_GRAFT_DRIVER_MEM="4g",
    )
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "mongoshake_spark",
            "--sync-mode", "receive",
            "--target-dir", target,
            "--receive-listen", "127.0.0.1:0",
            "--receive-idle-timeout", "3",
            "--receive-max-wall", "240",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    try:
        ready = json.loads(proc.stdout.readline())  # blocks until bound
        assert ready["mode"] == "receive" and ready["listening"] > 0
        conf = tmp_path / "collector.conf"
        conf.write_text(
            "sync_mode = incr\n"
            "tunnel = tcp\n"
            f"tunnel.address = 127.0.0.1:{ready['listening']}\n"
        )
        rc = main([
            "--conf", str(conf),
            "--feed-dir", feed,
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ])
        assert rc == 0
        collector_out = json.loads(capsys.readouterr().out)
        assert collector_out["tunnel"] == "tcp" and collector_out["rows"] > 0
        out, _ = proc.communicate(timeout=240)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["logs"] == collector_out["rows"]
    want = {
        (r["user_id"], r["value"])
        for r in last_writer_wins(
            oplog_view(load_table(spark, sf_dir, "events"))
        )
        .select("user_id", "value")
        .collect()
    }
    got = {
        (r["user_id"], r["value"])
        for r in spark.read.parquet(target)
        .filter(F.col("op") != "d")
        .select("user_id", "value")
        .collect()
    }
    assert got == want and len(got) > 0


def test_cli_tcp_tunnel_address_validation(tmp_path, capsys):
    """tunnel = tcp without a host:port address (or without the feed
    flags) must exit 2 with a message, never a traceback."""
    conf = tmp_path / "c.conf"
    conf.write_text("sync_mode = incr\ntunnel = tcp\ntunnel.address = nope\n")
    rc = main(["--conf", str(conf), "--feed-dir", "x", "--checkpoint-dir", "y"])
    assert rc == 2
    assert "host:port" in capsys.readouterr().err
    conf.write_text(
        "sync_mode = incr\ntunnel = tcp\ntunnel.address = 127.0.0.1:19\n"
    )
    rc = main(["--conf", str(conf)])
    assert rc == 2
    assert "feed_dir" in capsys.readouterr().err


def test_cli_compact_index_and_generations(spark, tmp_path, capsys):
    """Maintenance entrypoints: --compact-index rewrites a band store as
    a deduplicated generation and prints stats; --index-generations
    prints the dashboard; --retrain-corpus on a band store exits 2."""
    import json as _json

    store = str(tmp_path / "bands")
    rows = spark.createDataFrame(
        [(i % 5, i % 4, i % 7) for i in range(40)],
        "doc_id bigint, band int, band_key bigint",
    )
    rows.write.mode("append").parquet(store)
    rows.write.mode("append").parquet(store)  # replay duplicates

    assert main(["--compact-index", store, "--index-retention", "doc_id >= 1"]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_before"] == 80  # doubled appends, 40 distinct rows
    assert stats["rows_after"] == 32  # 40 distinct minus the 8 doc_id=0 rows

    assert main(["--index-generations", store]) == 0
    gens = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [g["generation"] for g in gens if g["is_current"]] == [
        stats["generation"]
    ]

    assert main(["--compact-index", store, "--retrain-corpus", store]) == 2
    assert "model-free" in capsys.readouterr().err
