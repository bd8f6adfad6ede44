"""Config validation (M5), DBRef transform (N6), metrics listener (A2/B10),
journal (M4)."""

from __future__ import annotations

import pytest

from mongoshake_spark.config import ConfigError, SyncConfig
from mongoshake_spark.operators import transforms


def test_config_defaults_valid():
    SyncConfig().validate()


@pytest.mark.parametrize(
    "kw",
    [
        dict(sync_mode="bogus"),
        dict(shard_key="nope"),
        dict(workers=0),
        dict(batch_rows=0),
        dict(target_delay_sec=-1),
        dict(ns_whitelist=("db1",), ns_blacklist=("db1",)),
        dict(gids=("g1",), ddl_enable=False),
        dict(checkpoint_interval_ms=10),
    ],
)
def test_config_rejects(kw):
    with pytest.raises(ConfigError):
        SyncConfig(**kw).validate()


def test_get_spark_master_defaults_to_the_hosts_cores(monkeypatch):
    import os

    from mongoshake_spark.session import default_master

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"


def test_transform_dbref(spark):
    o = '{"link": {"$ref": "c1", "$db": "db0", "$id": 5}, "other": [1, {"x": 2}]}'
    df = spark.createDataFrame([(1, o)], "id long, o string")
    out = transforms.transform_dbref(df, [("db0", "tgt0")]).collect()[0]["o"]
    import json

    doc = json.loads(out)
    assert doc["link"]["$db"] == "tgt0"
    assert doc["link"]["$ref"] == "c1"
    assert doc["link"]["$id"] == 5
    assert doc["other"] == [1, {"x": 2}]


def test_transform_dbref_passes_malformed(spark):
    df = spark.createDataFrame([(1, "not json")], "id long, o string")
    assert transforms.transform_dbref(df, [("a", "b")]).collect()[0]["o"] == "not json"


def test_metrics_listener_and_journal(spark, sf_dir, tmp_path):
    from mongoshake_spark.streaming import metrics
    from mongoshake_spark.streaming.apply import ApplyKernel
    from mongoshake_spark.streaming.replay import read_oplog_stream, write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=512)
    listener = metrics.attach(spark)
    try:
        kernel = ApplyKernel(
            spark, str(tmp_path / "t"), journal_dir=str(tmp_path / "journal")
        )
        q = (
            read_oplog_stream(spark, feed, max_files_per_trigger=2)
            .writeStream.foreachBatch(kernel.process_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        total = spark.read.parquet(feed).count()
        # M4: the journal holds every oplog row exactly once
        assert spark.read.parquet(str(tmp_path / "journal")).count() == total
        # A2: the listener saw every row and at least one batch
        import time

        time.sleep(1)  # listener events are async
        assert listener.metrics.rows_in == total
        assert listener.metrics.batches >= 1
        assert listener.metrics.snapshot()["rows_in"] == total
        # A2 REST surface: the reference's /repl /worker /progress
        # endpoints (collector/syncer.go:640-734), observable
        # OUT-OF-PROCESS over HTTP — not just via the Python object
        import json
        import urllib.error
        import urllib.request

        server = metrics.serve(listener)
        try:
            base = f"http://127.0.0.1:{server.port}"

            def fetch(path):
                with urllib.request.urlopen(base + path, timeout=10) as r:
                    return json.loads(r.read())

            assert fetch("/repl")["rows_in"] == total
            worker = fetch("/worker")
            assert worker["batches"] == listener.metrics.batches
            progress = fetch("/progress")
            assert sum(p["numInputRows"] for p in progress) == total
            # per-phase durations: the foreachBatch apply is one phase
            # of its trigger
            drained = [p for p in progress if p["numInputRows"] > 0]
            assert drained
            for p in drained:
                phases = p["durationMs"]
                assert phases["addBatch"] <= phases["triggerExecution"], p
            try:
                fetch("/nope")
                raise AssertionError("unknown route must 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
        finally:
            server.close()
    finally:
        spark.streams.removeListener(listener)


def test_plan_audit_detector(spark):
    """scripts/plan_audit.window_flags must FIRE on a global ordered
    window and stay quiet on a partitioned one and on a whole-group
    frame — otherwise the sweep is vacuous."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scripts.plan_audit import window_flags

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    base = spark.range(100).withColumn("g", F.col("id") % 10)
    bad = base.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert window_flags(plan_of(bad)) == ["global-ordered-window"]
    good = base.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert window_flags(plan_of(good)) == []
    whole_group = base.withColumn("c", F.count("*").over(Window.partitionBy("g")))
    assert window_flags(plan_of(whole_group)) == []
    # a rank filter compiles to WindowGroupLimit ([partition] comes FIRST
    # in that node's argument list) — partitioned top-k must NOT flag
    topk = good.filter(F.col("rn") <= 3)
    topk_plan = plan_of(topk)
    assert "WindowGroupLimit" in topk_plan
    assert window_flags(topk_plan) == []
    bad_topk = bad.filter(F.col("rn") <= 3)
    assert "global-ordered-window" in window_flags(plan_of(bad_topk))


def test_plan_audit_post_window_filter_detector():
    """post_window_filter_flags must FIRE on a Filter x IN (...) whose
    subtree holds a Window partitioned by x, and stay quiet when the
    filter is below the window (pushed down) or on a different column.
    Catalyst pushes partition-column IN-filters through Window itself,
    so the firing shape is validated on synthetic plan text (the live
    shape only occurs when pushdown is blocked — a cache boundary, a
    non-deterministic barrier)."""
    from scripts.plan_audit import post_window_filter_flags

    fired = "\n".join([
        "Project [doc_id#5L, rank#9]",
        "+- Filter doc_id#5L IN (1,2,3)",
        "   +- Window [row_number() windowspecdefinition(doc_id#5L, score#7 DESC NULLS LAST, specifiedwindowframe(RowFrame, a, b)) AS rank#9], [doc_id#5L], [score#7 DESC NULLS LAST]",
        "      +- Scan parquet [doc_id#5L, score#7]",
    ])
    assert post_window_filter_flags(fired) == ["post-window-anchor-filter"]
    # same shape via the rank-pushdown node (partition spec comes first)
    fired_gl = fired.replace(
        "Window [row_number() windowspecdefinition(doc_id#5L, score#7 DESC NULLS LAST, specifiedwindowframe(RowFrame, a, b)) AS rank#9], [doc_id#5L], [score#7 DESC NULLS LAST]",
        "WindowGroupLimit [doc_id#5L], [score#7 DESC NULLS LAST], row_number(), 3",
    )
    assert post_window_filter_flags(fired_gl) == ["post-window-anchor-filter"]
    # past spark.sql.optimizer.inSetConversionThreshold (default 10) the
    # literal set renders as INSET — the detector must catch both forms
    fired_inset = fired.replace(
        "Filter doc_id#5L IN (1,2,3)",
        "Filter doc_id#5L INSET 1,2,3,4,5,6,7,8,9,10,11,12",
    )
    assert post_window_filter_flags(fired_inset) == ["post-window-anchor-filter"]
    pushed = "\n".join([
        "Project [doc_id#5L, rank#9]",
        "+- Window [row_number() windowspecdefinition(doc_id#5L, score#7 DESC NULLS LAST, specifiedwindowframe(RowFrame, a, b)) AS rank#9], [doc_id#5L], [score#7 DESC NULLS LAST]",
        "   +- Filter doc_id#5L IN (1,2,3)",
        "      +- Scan parquet [doc_id#5L, score#7]",
    ])
    assert post_window_filter_flags(pushed) == []
    other_col = fired.replace("Filter doc_id#5L IN", "Filter neg_id#6L IN")
    assert post_window_filter_flags(other_col) == []
    # filter ABOVE but the window is a sibling, not in its subtree
    sibling = "\n".join([
        "Join Inner",
        ":- Filter doc_id#5L IN (1,2,3)",
        ":  +- Scan parquet [doc_id#5L]",
        "+- Window [row_number() windowspecdefinition(doc_id#5L, score#7 DESC NULLS LAST, specifiedwindowframe(RowFrame, a, b)) AS rank#9], [doc_id#5L], [score#7 DESC NULLS LAST]",
        "   +- Scan parquet [doc_id#5L, score#7]",
    ])
    assert post_window_filter_flags(sibling) == []


def test_semantic_decontaminate_includes_zero_hit_rows(spark):
    from mongoshake_spark.functions.similarity import semantic_decontaminate

    mk = lambda rows: spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    corpus = mk([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])])
    ev = mk([(100, [1.0, 0.0])])
    got = {r["vec_id"]: (r["n_hits"], r["contaminated"])
           for r in semantic_decontaminate(corpus, ev, 9, 10).collect()}
    # cos(1,ev)=1 -> hit; cos(2,ev)=0 and cos(3,ev)=-1 -> clean but PRESENT
    assert got == {1: (1, True), 2: (0, False), 3: (0, False)}


def test_stream_tmpdir_sweeps_only_dead_owners_stale_trees(tmp_path, monkeypatch):
    """The harness tmp sweep must never delete a LIVE process's trees —
    the current process's OR a concurrent session's (either may hold a
    lazily re-evaluated sink, however old the tree) — and must remove a
    DEAD owner's trees once stale."""
    import os
    import subprocess
    import time

    import mongoshake_spark.plans.queries as q

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        base = os.path.join(str(tmp_path), "mongoshake_stream_q")
        os.makedirs(base)
        # a pid that is guaranteed dead: a subprocess that already exited
        proc = subprocess.Popen(["true"])
        proc.wait()
        dead_pid = proc.pid
        mine_old = os.path.join(base, f"pid{os.getpid()}_old")
        dead_old = os.path.join(base, f"pid{dead_pid}_old")
        dead_new = os.path.join(base, f"pid{dead_pid}_new")
        alive_old = os.path.join(base, "pid1_old")  # pid 1 is always alive
        for d in (mine_old, dead_old, dead_new, alive_old):
            os.makedirs(d)
        two_hours_ago = time.time() - 7200
        for d in (mine_old, dead_old, alive_old):
            os.utime(d, (two_hours_ago, two_hours_ago))
        fresh = q._stream_tmpdir("t_")
        assert os.path.isdir(mine_old)        # own tree survives any age
        assert not os.path.isdir(dead_old)    # dead owner's stale tree swept
        assert os.path.isdir(dead_new)        # dead owner's fresh tree kept
        assert os.path.isdir(alive_old)       # LIVE owner's tree kept, any age
        assert os.path.isdir(fresh) and f"pid{os.getpid()}_" in os.path.basename(fresh)
    finally:
        tempfile.tempdir = None


def test_selfcheck_driver_canon_gate_rejects_arrays():
    """The r5 escape (array-typed outputs shipped green through selfcheck
    then ERRed in the driver's pandas canonicalizer) must be impossible:
    the gate fails on array cells and passes scalar-only outputs."""
    import pytest as _pytest
    from scripts.selfcheck import driver_canon_gate

    driver_canon_gate([(1, "a"), (2, "b")], ["id", "s"])  # scalars pass
    driver_canon_gate([], ["id"])  # empty result passes
    with _pytest.raises(TypeError, match="driver-incompatible"):
        driver_canon_gate([(1, [1, 2])], ["id", "ids"])
    with _pytest.raises(TypeError, match="driver-incompatible"):
        driver_canon_gate([(1, {"k": 1})], ["id", "m"])


def test_export_order_rotation_rules(tmp_path, monkeypatch):
    """queries() export order is the driver-gate rotation: queries whose
    latest CORRECTNESS record is missing or non-green sort first, then
    ascending by last-passed round, registry order breaking ties."""
    import json as _json

    import mongoshake_spark.plans.queries as q

    names = list(q.QUERIES)
    a, b, c, d = names[0], names[1], names[2], names[3]
    # r1: a,b,c pass; r2: b re-passes, c FAILS, d passes
    (tmp_path / "CORRECTNESS_r01.json").write_text(_json.dumps({
        a: {"hash_match": True}, b: {"hash_match": True}, c: {"hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(_json.dumps({
        b: {"hash_match": True},
        c: {"hash_match": None, "err": "boom"},
        d: {"rows_match": True, "hash_match": None},  # weak-green (no oracle)
    }))
    monkeypatch.setattr(q, "_REPO_ROOT", tmp_path)
    order = q._export_order()
    pos = {n: i for i, n in enumerate(order)}
    # c failed most recently -> front, with every never-checked query
    # (registry order among them); a (r1) before b (r2) before d (r2)
    assert pos[c] < pos[a] < pos[b]
    assert pos[b] < pos[d]  # b and d both passed r2: registry order breaks tie
    never = [n for n in names[4:8]]
    for n in never:
        assert pos[n] < pos[a]
    assert sorted(order) == sorted(names)  # a permutation, nothing lost


def test_stat_poll_prints_interval_deltas():
    """The scripts/mongoshake-stat analog: polls a live /repl endpoint
    and prints a baseline line on the first poll (so --stat-count 1 is
    never silent) then per-interval counter deltas over the MEASURED
    elapsed time (not the nominal interval — fetch latency would make
    nominal-interval rates over-report)."""
    import pytest

    from mongoshake_spark.streaming import metrics

    listener = metrics.MetricsListener()
    m = listener.metrics
    m.batches, m.rows_in, m.last_rows_per_sec, m.last_batch_ms = 1, 100, 50.0, 20
    server = metrics.serve(listener)
    lines = []
    fake_now = [0.0]

    def advance(_interval):
        # what a running stream does between polls — and the wall
        # clock actually elapsing 2s (the injected clock ticks here)
        m.batches += 2
        m.rows_in += 300
        fake_now[0] += 2.0

    try:
        with pytest.raises(ValueError):
            metrics.stat_poll("http://x", interval=0)  # guard, not ZeroDiv
        metrics.stat_poll(
            f"http://127.0.0.1:{server.port}",
            interval=2.0,
            count=3,
            out=lines.append,
            _sleep=advance,
            _clock=lambda: fake_now[0],
        )
    finally:
        server.close()
    assert len(lines) == 3  # baseline + two delta lines
    assert "baseline" in lines[0] and "rows_in=100" in lines[0]
    assert "rows/s=150.0" in lines[1]    # 300 rows / 2s measured
    assert "batches/s=1.00" in lines[1]  # 2 batches / 2s measured
    assert "rows_in=400" in lines[1] and "rows_in=700" in lines[2]
    assert "engine_rps=50.0" in lines[1] and "batch_ms=20" in lines[1]


def test_cli_stat_flag(capsys):
    """--stat polls the monitoring port without needing a conf file."""
    from mongoshake_spark.__main__ import main
    from mongoshake_spark.streaming import metrics

    listener = metrics.MetricsListener()
    listener.metrics.rows_in = 42
    server = metrics.serve(listener)
    try:
        rc = main([
            "--stat", f"127.0.0.1:{server.port}",
            "--stat-interval", "0.01", "--stat-count", "2",
        ])
    finally:
        server.close()
    assert rc == 0
    outp = capsys.readouterr().out
    assert "rows_in=42" in outp and "rows/s=0.0" in outp
    # unreachable port -> clean exit 2, not a traceback
    assert main(["--stat", "127.0.0.1:1", "--stat-count", "1"]) == 2
