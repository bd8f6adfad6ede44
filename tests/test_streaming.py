"""Streaming incr-sync tests (SURVEY §5 test plan items 3; reference
contract: executor/db_writer_test.go's seed -> apply -> compare-final-state
pattern, and collector/batcher_test.go's barrier/segmentation scenarios)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongoshake_spark.operators import merge
from mongoshake_spark.sources.oplog import oplog_view
from mongoshake_spark.sources.tables import load_table
from mongoshake_spark.streaming.apply import ApplyKernel, run_incr_sync
from mongoshake_spark.streaming.drain import drain, stream_session
from mongoshake_spark.streaming.replay import (
    read_oplog_stream,
    write_feed,
    write_replay_feed,
)


@pytest.fixture(scope="module")
def feed(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed")
    # small batches so the sf0.001 feed spans several micro-batches
    write_replay_feed(spark, sf_dir, str(d), batch_rows=128)
    return str(d)


def _final_state(spark, target_dir):
    df = merge.visible(spark.read.parquet(target_dir))
    return {r["user_id"]: r["value"] for r in df.collect()}


def _expected_state(spark, sf_dir):
    oplog = oplog_view(load_table(spark, sf_dir, "events"))
    return {
        r["user_id"]: r["value"] for r in merge.last_writer_wins(oplog).collect()
    }


def test_final_state_equivalence(spark, sf_dir, feed, tmp_path):
    """Streaming MERGE materialization == batch arg_max reconstruction
    (FIXTURES.md §4 / Q13 contract), with multiple micro-batches."""
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    kernel = run_incr_sync(
        spark, feed, target, ckpt, max_files_per_trigger=2
    )
    assert _final_state(spark, target) == _expected_state(spark, sf_dir)
    # every DDL row was applied as a barrier, in global (ts, id) order
    ddl_ids = [x[0] for x in kernel.ddl_log]
    oplog = oplog_view(load_table(spark, sf_dir, "events"))
    expected_ddl = [
        r["id"] for r in oplog.filter(F.col("op") == "c").orderBy("ts", "id").collect()
    ]
    assert ddl_ids == expected_ddl


def test_resume_from_checkpoint(spark, sf_dir, feed, tmp_path):
    """S13: kill after a prefix, restart with the same checkpointLocation,
    final state identical — no row lost or double-applied."""
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    kernel = ApplyKernel(spark, target)
    stream = read_oplog_stream(spark, feed, max_files_per_trigger=1)

    seen = {"n": 0}
    orig = kernel.process_batch

    def first_three(batch, bid):
        if seen["n"] >= 3:
            raise RuntimeError("simulated crash")
        orig(batch, bid)
        seen["n"] += 1

    q = (
        stream.writeStream.foreachBatch(first_three)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    # restart: same checkpoint, normal kernel -> drains the rest exactly once
    kernel2 = ApplyKernel(spark, target)
    q2 = (
        read_oplog_stream(spark, feed, max_files_per_trigger=1)
        .writeStream.foreachBatch(kernel2.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert _final_state(spark, target) == _expected_state(spark, sf_dir)


BARRIER_SCENARIOS = {
    # op sequences mirroring collector/batcher_test.go's scenario tables:
    # DDL at the front, back, consecutive, interleaved, none, all, noop
    # runs; each maps to (ops, number of keys the ops cycle over)
    "no_ddl": ("iiuud", 3),
    "ddl_front": ("ciiu", 3),
    "ddl_back": ("iiuc", 3),
    "ddl_consecutive": ("iccu", 3),
    "ddl_interleaved": ("icicic", 3),
    "all_ddl": ("ccc", 3),
    "noop_runs": ("ninuin", 3),
    "single_row_ddl": ("c", 3),
    "delete_after_barrier": ("icd", 3),
    # barriers split one key's history into segments [1,2] [4] [6]; the
    # delete after the last barrier is the key's last writer
    "one_key_segments": ("iicucd", 1),
}


@pytest.mark.parametrize("name", list(BARRIER_SCENARIOS))
def test_strict_barrier_scenarios(spark, tmp_path, name):
    """batcher_test.go behavioral spec: for every DDL placement, the
    kernel's one apply per micro-batch must (a) journal DDLs in global
    order and (b) reach the same final state as a row-at-a-time reference
    simulation that applies segment k, then DDL k."""
    import datetime

    ops, n_keys = BARRIER_SCENARIOS[name]
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), i % n_keys, op, "db0.c1", float(i), "{}")
        for i, op in enumerate(ops, start=1)
    ]
    batch = spark.createDataFrame(
        rows,
        "id long, ts timestamp, user_id long, op string, ns string, value double, o string",
    )

    # sequential reference simulation (the contract)
    sim_state: dict = {}
    sim_ddl = []
    for i, op in enumerate(ops, start=1):
        uid = i % n_keys
        if op == "i" or op == "u":
            sim_state[uid] = float(i)
        elif op == "d":
            sim_state.pop(uid, None)
            sim_state[uid] = None  # tombstone
        elif op == "c":
            sim_ddl.append(i)
    sim_visible = {k: v for k, v in sim_state.items() if v is not None}

    kernel = ApplyKernel(spark, str(tmp_path / "t"))
    kernel.process_batch(batch, 0)

    # (a) DDL ids in order
    assert [e[0] for e in kernel.ddl_log] == sim_ddl
    # (b) final visible state matches the sequential simulation
    got = {r["user_id"]: r["value"] for r in (kernel.state_view() or batch.limit(0)).collect()}
    assert got == sim_visible


def test_batch_job_count_independent_of_ddl_count(spark, tmp_path):
    """A micro-batch costs the same Spark jobs whether it carries no DDL
    or dozens: its CRUD rows fold in one MERGE and its DDL rows arrive in
    one collect, so DDLs add no per-barrier job."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    crud = [
        (i, t0 + datetime.timedelta(seconds=i), i % 40, "iu"[i % 2], "db0.c1", float(i), "{}")
        for i in range(1, 201)
    ]
    ddl = [
        (1000 + j, t0 + datetime.timedelta(seconds=4 * j, milliseconds=500), 0,
         "c", "db0.$cmd", 0.0, '{"create": "c%d"}' % j)
        for j in range(50)
    ]
    schema = (
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string"
    )
    sc = spark.sparkContext

    def jobs(name, rows):
        kernel = ApplyKernel(spark, str(tmp_path / name), n_buckets=8)
        batch = spark.createDataFrame(rows, schema)
        group = f"apply-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            kernel.process_batch(batch, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return kernel, len(sc.statusTracker().getJobIdsForGroup(group))

    _, crud_only = jobs("crud_only", crud)
    kernel, with_ddl = jobs("with_ddl", crud + ddl)
    assert len(kernel.ddl_log) == 50
    assert crud_only > 0
    assert with_ddl == crud_only


def test_batch_job_count_independent_of_namespace_count(spark, tmp_path):
    """The multi-namespace kernel folds every namespace of a batch in its
    one MERGE: the same 1000 CRUD rows cost the same Spark jobs spread
    over 1 namespace or over 16, and as many as the single-table kernel
    on the same rows, with or without a dead-letter dir (the census
    counts bad rows, so a clean batch never probes for them). Measured
    on the second batch, so the slice read of existing state is counted
    too."""
    import datetime

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    t0 = datetime.datetime(2024, 1, 1)
    schema = (
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string"
    )
    sc = spark.sparkContext

    def rows(n_ns, base):
        return [
            (base + i, t0 + datetime.timedelta(seconds=base + i), i % 250,
             "iu"[i % 2], f"db{i % n_ns % 4}.c{i % n_ns}", float(i), "{}")
            for i in range(1000)
        ]

    def jobs(name, kernel, n_ns):
        kernel.process_batch(spark.createDataFrame(rows(n_ns, 0), schema), 0)
        batch = spark.createDataFrame(rows(n_ns, 1000), schema)
        group = f"apply-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            kernel.process_batch(batch, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one_ns = jobs("ns1", multi_ns_kernel(spark, str(tmp_path / "ns1")), 1)
    sixteen_ns = jobs("ns16", multi_ns_kernel(spark, str(tmp_path / "ns16")), 16)
    single_dl = jobs(
        "single_dl",
        ApplyKernel(
            spark, str(tmp_path / "single_dl"),
            dead_letter_dir=str(tmp_path / "single_dl_dlq"),
        ),
        16,
    )
    single = jobs("single", ApplyKernel(spark, str(tmp_path / "single")), 16)
    assert one_ns > 0
    assert sixteen_ns == one_ns == single_dl == single


def test_batch_over_wide_state_runs_five_jobs_one_file_per_bucket(
    spark, tmp_path
):
    """A micro-batch over existing state costs at most five Spark jobs
    (the batch's cache, the census's two, the ``_bucket`` shuffle and the
    write), also when its slice spans more bucket files than Spark's
    default parallel-listing threshold (32). After each flush every
    bucket dir holds exactly one parquet file, whatever the write
    width. The count is pinned at 64: a rule-sized kernel keeps this
    state in one bucket."""
    import datetime
    import os

    t0 = datetime.datetime(2024, 1, 1)

    def batch(base):
        return spark.createDataFrame(
            [
                (base + i, t0 + datetime.timedelta(seconds=base + i), i % 500,
                 "iud"[i % 3], "db0.c1", float(i), "{}")
                for i in range(1000)
            ],
            _MULTI_SCHEMA,
        )

    target = str(tmp_path / "t")
    kernel = ApplyKernel(spark, target, n_buckets=64)
    kernel.process_batch(batch(0), 0)
    sc = spark.sparkContext
    group = "apply-jobs-wide-slice"
    sc.setJobGroup(group, group)
    try:
        kernel.process_batch(batch(1000), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert kernel.last_state_files_read > 32
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5

    buckets = [d for d in os.listdir(target) if d.startswith("_bucket=")]
    assert len(buckets) == kernel.n_buckets
    for d in buckets:
        files = os.listdir(os.path.join(target, d))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, (d, files)
    # key k's last op is the second batch's row 500 + k
    got = {r["user_id"]: r["value"] for r in kernel.state_view().collect()}
    assert got == {
        k: float(500 + k) for k in range(500) if (500 + k) % 3 != 2
    }


def test_crash_between_bucket_swaps_replays_to_same_state(
    spark, tmp_path, monkeypatch
):
    """A flush cut between its per-bucket swaps loses no bucket. The
    swap fails after 0, 1 and half of the touched buckets, each time
    just after the next live bucket dir was moved aside; a fresh kernel
    on the same dir restores it, and the replayed batch converges to the
    state of an uncrashed run with no staging or set-aside dir left. The
    batch updates the even keys of the other buckets and re-delivers the
    committed deletes of one bucket, whose merged rows all compact away:
    that bucket's dir goes and does not come back."""
    import datetime
    import os
    import shutil

    from mongoshake_spark.streaming.apply import ASIDE_DIR, STAGING_DIR

    t0 = datetime.datetime(2024, 1, 1)
    n_buckets = 8

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, t0 + datetime.timedelta(seconds=i), k, op, "db0.c1",
                 float(i), "{}")
                for i, k, op in rows
            ],
            _MULTI_SCHEMA,
        )

    def snapshot(target):
        return sorted(tuple(r) for r in spark.read.parquet(target).collect())

    base = str(tmp_path / "base")
    kernel = ApplyKernel(spark, base, n_buckets=n_buckets)
    keys = spark.range(40).withColumnRenamed("id", "user_id")
    bucket_of = {
        r["user_id"]: r["b"]
        for r in keys.select(
            "user_id", kernel._bucket_expr().alias("b")
        ).collect()
    }
    doomed = bucket_of[0]
    deletes = [
        (100 + j, k, "d") for j, k in enumerate(sorted(bucket_of))
        if bucket_of[k] == doomed
    ]
    kernel.process_batch(mk([(1 + k, k, "i") for k in bucket_of]), 0)
    # the tombstones outrank the watermark of their own flush (40) and
    # stay; the watermark then passes them
    kernel.process_batch(mk(deletes), 1)
    # odd keys stay untouched, so a lost bucket shows in the state
    replay_rows = deletes + [
        (200 + k, k, "u") for k in bucket_of
        if bucket_of[k] != doomed and k % 2 == 0
    ]
    replay = mk(replay_rows)
    touched = len({bucket_of[k] for _, k, _ in replay_rows})
    assert touched > 2

    ref = str(tmp_path / "ref")
    shutil.copytree(base, ref)
    ApplyKernel(spark, ref, n_buckets=n_buckets).process_batch(replay, 2)
    want = snapshot(ref)
    assert f"_bucket={doomed}" not in os.listdir(ref)
    assert {r[-1] for r in want} == set(bucket_of.values()) - {doomed}

    real_rename = os.rename
    for crash_after in (0, 1, touched // 2):
        target = str(tmp_path / f"crash{crash_after}")
        shutil.copytree(base, target)
        swapped = []

        def rename(src, dst, crash_after=crash_after, swapped=swapped):
            if os.path.basename(os.path.dirname(src)) == STAGING_DIR:
                if len(swapped) == crash_after:
                    raise OSError("injected crash between bucket swaps")
                swapped.append(src)
            real_rename(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            with pytest.raises(OSError, match="injected"):
                ApplyKernel(spark, target, n_buckets=n_buckets).process_batch(
                    replay, 2
                )
        # the cut left a live bucket dir set aside and missing
        aside = os.listdir(os.path.join(target, ASIDE_DIR))
        assert set(aside) - set(os.listdir(target))

        ApplyKernel(spark, target, n_buckets=n_buckets).process_batch(replay, 2)
        assert snapshot(target) == want, crash_after
        entries = set(os.listdir(target))
        assert not {STAGING_DIR, ASIDE_DIR} & entries
        assert f"_bucket={doomed}" not in entries


def test_rebucket_cut_between_its_renames_loses_no_row(
    spark, tmp_path, monkeypatch
):
    """A rebucket cut between its two renames (the state set aside, the
    rewrite not yet in) loses nothing: the next open restores the
    set-aside state, and the rebucket then completes with every committed
    row and the ``_dead_letter`` side table kept under the state dir."""
    import os

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    root = str(tmp_path / "root")
    rows = [
        (i, None, i % 30, "iu"[i % 2], f"db0.c{i % 3}", float(i), "{}")
        for i in range(1, 200)
    ] + [(500, None, 7, "i", None, 1.0, "{}")]  # NULL ns: dead letter
    multi_ns_kernel(spark, root, n_buckets=2).process_batch(
        spark.createDataFrame(rows, _MULTI_SCHEMA), 0
    )

    def rows_of(kernel):
        return sorted(tuple(r) for r in kernel.state_view().collect())

    want = rows_of(multi_ns_kernel(spark, root))

    real_rename, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash between the rebucket's renames")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="injected"):
            multi_ns_kernel(spark, root, n_buckets=8).state_view()
    assert not os.path.exists(root)  # the cut left the state set aside

    kernel = multi_ns_kernel(spark, root, n_buckets=8)
    assert rows_of(kernel) == want
    assert kernel.n_buckets == 8
    dead = spark.read.parquet(f"{root}/_dead_letter").collect()
    assert [r["id"] for r in dead] == [500]
    assert sorted(os.listdir(tmp_path)) == ["root"]


def test_bucket_count_grows_past_rows_per_bucket(spark, tmp_path):
    """A rule-sized state starts at one bucket; a flush that leaves a
    bucket above ``ROWS_PER_BUCKET`` rows doubles the count until its
    share fits, every row survives, later batches fold under the new
    count, and a reopened kernel keeps it."""
    import json
    import os

    from mongoshake_spark.streaming.apply import ROWS_PER_BUCKET

    n = 5 * ROWS_PER_BUCKET // 2  # one bucket's share fits at 4 buckets

    def batch(first, n_keys, op):
        return spark.range(n_keys).select(
            (F.col("id") + first).alias("id"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.col("id").alias("user_id"),
            F.lit(op).alias("op"),
            F.lit("db0.c1").alias("ns"),
            (F.col("id") + first).cast("double").alias("value"),
            F.lit("{}").alias("o"),
        )

    target = str(tmp_path / "t")
    kernel = ApplyKernel(spark, target)
    kernel.process_batch(batch(1, 100, "i"), 0)
    assert kernel.n_buckets == 1
    kernel.process_batch(batch(1000, n, "i"), 1)
    assert kernel.n_buckets == 4
    with open(os.path.join(target, "_layout.json")) as f:
        assert json.load(f) == {"n_buckets": 4, "watermark": 1000 + n - 1}
    buckets = sorted(d for d in os.listdir(target) if d.startswith("_bucket="))
    assert buckets == [f"_bucket={b}" for b in range(4)]
    kernel.process_batch(batch(10**6, 10, "u"), 2)
    got = {r["user_id"]: r["value"] for r in kernel.state_view().collect()}
    assert got == {k: float(k + (10**6 if k < 10 else 1000)) for k in range(n)}
    reopened = ApplyKernel(spark, target)
    reopened.process_batch(batch(2 * 10**6, 1, "u"), 3)
    assert reopened.n_buckets == 4
    assert reopened.state_view().count() == n


def test_rule_sized_and_pinned_kernels_reach_identical_state(
    spark, feed, tmp_path, monkeypatch
):
    """The bucket count is layout, not semantics: one feed drained by a
    rule-sized kernel, by one whose rule grows mid-stream (a lowered
    ``ROWS_PER_BUCKET``) and by one pinned at 64 gives identical
    ``state_view()`` rows."""
    from mongoshake_spark.streaming import apply
    from mongoshake_spark.streaming.apply import drain_feed

    def drained(name, **kw):
        kernel = ApplyKernel(spark, str(tmp_path / name), **kw)
        drain_feed(spark, feed, kernel.process_batch, str(tmp_path / f"{name}_ck"))
        return kernel, sorted(tuple(r) for r in kernel.state_view().collect())

    rule, rows = drained("rule")
    pinned, pinned_rows = drained("pinned", n_buckets=64)
    with monkeypatch.context() as m:
        m.setattr(apply, "ROWS_PER_BUCKET", 2)
        grown, grown_rows = drained("grown")
    assert (rule.n_buckets, pinned.n_buckets) == (1, 64)
    assert grown.n_buckets >= 8  # 15 keys, at most 2 rows a bucket
    assert rows and rows == pinned_rows == grown_rows


_VANILLA_APPLY_JOBS = """
import datetime, json, sys, tempfile
from pyspark.sql import SparkSession
from mongoshake_spark.streaming.apply import ApplyKernel

spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
sc, t0 = spark.sparkContext, datetime.datetime(2024, 1, 1)
out = {}
for name, n_buckets in (("default", None), ("pinned", 64)):
    kernel = ApplyKernel(spark, tempfile.mkdtemp(dir=sys.argv[1]),
                         n_buckets=n_buckets)
    jobs = []
    for b in range(4):
        batch = spark.createDataFrame(
            [(1000 * b + i, t0 + datetime.timedelta(seconds=1000 * b + i),
              (7 * i + b) % 150, "iud"[i % 3], "db0.c1", float(i), "{}")
             for i in range(1000)],
            "id long, ts timestamp, user_id long, op string, ns string, "
            "value double, o string")
        sc.setJobGroup(f"{name}{b}", f"{name}{b}")
        kernel.process_batch(batch, b)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"{name}{b}")))
    out[name] = {"jobs": jobs[1:], "files": kernel.last_state_files_read}
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def vanilla_apply_jobs(tmp_path_factory):
    """Spark jobs per warm batch of a default and of a 64-bucket kernel,
    and the slice files the latter's last batch read, on a session built
    with no engine settings of ours (as an outside driver builds it). Run
    in a fresh interpreter, since this process's session is
    ``get_spark``'s."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _VANILLA_APPLY_JOBS,
         str(tmp_path_factory.mktemp("vanilla"))],
        cwd=repo, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_apply_runs_at_most_five_jobs_per_batch_on_a_vanilla_session(
    vanilla_apply_jobs,
):
    """On a vanilla session a default kernel's batch over existing state
    runs at most five Spark jobs: a fixed 64-bucket layout touched ~58
    slice files, more than Spark's default parallel-listing threshold
    (32), and paid a sixth job for the listing."""
    jobs = vanilla_apply_jobs["default"]["jobs"]
    assert len(jobs) == 3 and max(jobs) <= 5, jobs


def test_apply_runs_at_most_two_jobs_per_batch_on_a_vanilla_session(
    vanilla_apply_jobs,
):
    """The kernel plans in a session of its own whatever the caller's
    says: on a vanilla session (AQE on, the default listing threshold) a
    warm batch runs the census and the fold-and-write, two jobs, both on
    a default kernel and on one pinned at 64 buckets whose slice spans
    more files than Spark's default parallel-listing threshold (32)."""
    default, pinned = vanilla_apply_jobs["default"], vanilla_apply_jobs["pinned"]
    assert pinned["files"] > 32
    for jobs in (default["jobs"], pinned["jobs"]):
        assert len(jobs) == 3 and max(jobs) <= 2, vanilla_apply_jobs


def _warm_batches(spark, kernel, monkeypatch, n=4):
    """Feed ``kernel`` ``n`` 1000-row batches over 1500 keys; per batch
    after the first, the Spark jobs it ran (its job group) and the py4j
    round trips this thread made inside ``process_batch``."""
    import collections
    import datetime
    import threading

    import py4j.clientserver

    sent = collections.Counter()
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(conn, command):
        sent[threading.get_ident()] += 1
        return send(conn, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    me, sc, t0 = threading.get_ident(), spark.sparkContext, datetime.datetime(2024, 1, 1)
    out = []
    for b in range(n):
        batch = spark.createDataFrame(
            [(1000 * b + i, t0 + datetime.timedelta(seconds=1000 * b + i),
              (7 * i + b) % 1500, "iud"[i % 3], "db0.c1", float(i), "{}")
             for i in range(1000)],
            _MULTI_SCHEMA,
        )
        group = f"warm-{id(kernel)}-{b}"
        sc.setJobGroup(group, group)
        try:
            before = sent[me]
            kernel.process_batch(batch, b)
            trips = sent[me] - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out.append((len(sc.statusTracker().getJobIdsForGroup(group)), trips))
    return out[1:]


def test_warm_default_kernel_runs_two_jobs_per_batch(spark, tmp_path, monkeypatch):
    """A warm default kernel's batch on ``get_spark``'s session runs two
    Spark jobs: the census (its shuffle reads the batch's cache as it
    fills it) and the fold with its write. At AQE on there were five: a
    cache stage, the census's two and the fold's two. The caller's
    session keeps its own AQE and width."""
    caller = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    kernel = ApplyKernel(spark, str(tmp_path / "t"))
    jobs = [j for j, _ in _warm_batches(spark, kernel, monkeypatch)]
    assert max(jobs) <= 2, jobs
    assert kernel.state_view().count() > 0
    # the kernel's settings stay in its own session
    assert {k: spark.conf.get(k) for k in caller} == caller


def test_warm_batch_makes_few_py4j_round_trips(spark, tmp_path, monkeypatch):
    """A warm batch makes at most 150 py4j round trips from its own
    thread (646 when its Column expressions were rebuilt per batch): the
    kernel builds them once per bucket count, ``merge_upsert`` once per
    column naming."""
    kernel = ApplyKernel(spark, str(tmp_path / "t"))
    trips = [t for _, t in _warm_batches(spark, kernel, monkeypatch)]
    assert min(trips) > 0  # the counter sits on the gateway's connection
    assert max(trips) <= 150, trips


def test_checkpoint_log_manager_refuses_to_overwrite(spark, tmp_path):
    """The session's streaming checkpoint file manager is
    ``session.CHECKPOINT_MANAGER``, and its no-overwrite create over an
    existing log file still raises ``FileAlreadyExistsException`` and
    leaves the file as it was: ``HDFSMetadataLog`` relies on it to refuse
    a concurrent writer of the same batch ("Concurrent update to the
    log")."""
    from py4j.protocol import Py4JJavaError

    from mongoshake_spark.session import CHECKPOINT_MANAGER

    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    log = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "offsets"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(log, conf)
    assert manager.getClass().getName() == CHECKPOINT_MANAGER
    manager.mkdirs(log)
    entry = jvm.org.apache.hadoop.fs.Path(log, "0")

    def write(byte):
        out = manager.createAtomic(entry, False)
        out.write(byte)
        out.close()

    write(1)
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        write(2)
    assert (tmp_path / "offsets" / "0").read_bytes() == b"\x01"


def test_feed_stream_schema_comes_from_one_footer(spark, feed, tmp_path):
    """``read_oplog_stream`` takes the feed's schema from one file's
    footer on the driver: it equals Spark's inferred schema, building the
    stream runs no Spark job, and an empty feed dir fails naming it."""
    import os

    sc = spark.sparkContext
    sc.setJobGroup("feed-schema", "feed-schema")
    try:
        stream = read_oplog_stream(spark, feed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("feed-schema") == []
    assert stream.schema == spark.read.parquet(feed).schema
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(FileNotFoundError, match="no parquet file") as err:
        read_oplog_stream(spark, empty)
    assert empty in str(err.value)


@pytest.mark.parametrize("frame", ["keys", "oplog"])
def test_write_feed_replays_one_key_range_per_file_in_order(
    spark, sf_dir, frame, tmp_path
):
    """Each feed file holds one contiguous range of the feed order, and
    mtime order is range order, so a one-file-per-trigger drain replays
    the frame in that order: on a frame that is not the oplog (a key with
    a tie-break, spread over partitions out of order) and on the oplog
    feed ``write_replay_feed`` writes through the same writer."""
    import os

    feed = str(tmp_path / "feed")
    if frame == "keys":
        order = ("k", "t")
        df = spark.range(0, 600, numPartitions=3).select(
            ((F.col("id") * 7919) % 200).alias("k"), F.col("id").alias("t")
        )
        rows = sorted(tuple(r) for r in df.collect())
        n = write_feed(df, feed, 4, *order)
        assert n == 4
    else:
        order = ("ts", "id")
        n = write_replay_feed(spark, sf_dir, feed, batch_rows=256)
        rows = sorted(
            tuple(r) for r in spark.read.parquet(feed).select(*order).collect()
        )
    files = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
    mtimes = [os.path.getmtime(os.path.join(feed, f)) for f in files]
    assert len(files) == n > 1
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == n
    ranges = [
        sorted(
            tuple(r) for r in
            spark.read.parquet(os.path.join(feed, f)).select(*order).collect()
        )
        for f in files
    ]
    assert [r for part in ranges for r in part] == rows
    batches = []
    drain(
        read_oplog_stream(spark, feed)
        .writeStream.foreachBatch(
            lambda b, _: batches.append(
                sorted(tuple(r) for r in b.select(*order).collect())
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck")),
        "feed replay",
        300,
    )
    assert batches == ranges


W7_BAD_ROWS = {
    # one row the single-table kernel cannot apply: (id, user_id, op, ns)
    "unknown_op": (100, 3, "x", "db0.c1"),
    "null_op": (100, 3, None, "db0.c1"),
    "null_user_id": (100, None, "i", "db0.c1"),
    "command_null_ns": (100, 0, "c", None),
    # a NULL ordinal orders nothing: it must neither reach the buckets'
    # max ordinal beside rows of other buckets nor write a state row
    "null_id": (None, 3, "i", "db0.c1"),
    # a clean batch (CRUD, a noop and a command) writes no dead letter
    "no_bad_row": None,
}


@pytest.mark.parametrize("name", list(W7_BAD_ROWS))
def test_single_table_bad_row_dead_lettered_once(spark, tmp_path, name):
    """W7 (executor/duplicate.go) on the single-table kernel: the one row
    that cannot be applied lands in the dead-letter table exactly once,
    and the batch's clean rows apply around it."""
    import datetime
    import os

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), i % 20, "iu"[i % 2],
         "db0.c1", float(i), "{}")
        for i in range(1, 41)
    ]
    rows += [
        (41, t0, 0, "n", "", None, "{}"),
        (42, t0, 0, "c", "db0.$cmd", None, '{"create": "c2"}'),
    ]
    bad = W7_BAD_ROWS[name]
    if bad is not None:
        rid, uid, op, ns = bad
        rows.append((rid, t0, uid, op, ns, -1.0, '{"drop": "c1"}'))
    dl = str(tmp_path / "dlq")
    kernel = ApplyKernel(spark, str(tmp_path / "t"), dead_letter_dir=dl)
    kernel.process_batch(spark.createDataFrame(rows, _MULTI_SCHEMA), 0)

    got = {r["user_id"]: r["value"] for r in kernel.state_view().collect()}
    assert got == {k: float(20 + k) for k in range(1, 20)} | {0: 40.0}
    assert spark.read.parquet(str(tmp_path / "t")).filter(
        F.col("id").isNull() | F.col("op").isNull()
    ).count() == 0
    assert [e[0] for e in kernel.ddl_log] == [42]
    if bad is None:
        assert not os.path.exists(dl)
    else:
        dead = spark.read.parquet(dl).select("id", "user_id", "op", "ns")
        assert [tuple(r) for r in dead.collect()] == [bad]


def test_txn_reassembly_in_batch(spark):
    """B3 within-batch fallback: committed txn emits all ops in order,
    uncommitted txn emits nothing, aborted rows are dropped."""
    from mongoshake_spark.streaming.txn import reassemble_in_batch

    rows = [
        ("s1", 1, 1, "i", "db0.c1", "{}", False, False),
        ("s1", 1, 2, "u", "db0.c1", "{}", False, False),
        ("s1", 1, 3, "u", "db0.c1", "{}", True, False),
        ("s2", 1, 1, "i", "db0.c2", "{}", False, False),  # no commit
        ("s3", 1, 1, "i", "db0.c3", "{}", False, True),  # aborted
        ("s3", 1, 2, "u", "db0.c3", "{}", True, False),
    ]
    batch = spark.createDataFrame(
        rows,
        "lsid string, txnNumber long, seq long, op string, ns string, o string, commit boolean, abort boolean",
    )
    out = reassemble_in_batch(batch).orderBy("lsid", "seq").collect()
    assert [(r["lsid"], r["seq"]) for r in out] == [
        ("s1", 1),
        ("s1", 2),
        ("s1", 3),
        ("s3", 2),
    ]


def test_kernel_all_options_combined(spark, sf_dir, feed, tmp_path):
    """Interaction test: journal + dead-letter + metrics listener all
    enabled on one run, over a feed with DDL rows — options must compose."""
    from mongoshake_spark.streaming import metrics, read_oplog_stream

    listener = metrics.attach(spark)
    try:
        kernel = ApplyKernel(
            spark,
            str(tmp_path / "t"),
            dead_letter_dir=str(tmp_path / "dlq"),
            journal_dir=str(tmp_path / "j"),
        )
        q = (
            read_oplog_stream(spark, feed, max_files_per_trigger=4)
            .writeStream.foreachBatch(kernel.process_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(400)
        assert _final_state(spark, str(tmp_path / "t")) == _expected_state(spark, sf_dir)
        total = spark.read.parquet(feed).count()
        assert spark.read.parquet(str(tmp_path / "j")).count() == total
        assert len(kernel.ddl_log) > 0
    finally:
        spark.streams.removeListener(listener)


def test_windowed_counts_match_batch(spark, sf_dir, feed, tmp_path):
    """A2 streaming form: watermarked 1-hour windows over the replayed
    stream equal the batch date_trunc aggregation (q23's contract), because
    the feed replays in order so no row is beyond the watermark."""
    from mongoshake_spark.streaming.replay import read_oplog_stream
    from mongoshake_spark.streaming.windows import windowed_counts

    stream = read_oplog_stream(spark, feed, max_files_per_trigger=4)
    out = windowed_counts(stream, window="1 hour", watermark="2 hours")
    rows = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["window_start"]: r["cnt"] for r in rows}
    batch = (
        oplog_view(load_table(spark, sf_dir, "events"))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .count()
        .collect()
    )
    exp = {r["h"]: r["count"] for r in batch}
    # append mode withholds windows the watermark hasn't passed — the final
    # window(s) stay open; everything emitted must match the batch truth
    assert len(got) >= len(exp) - 3
    for k, v in got.items():
        assert exp[k] == v


def test_txn_reassembly_streaming(spark, tmp_path):
    """B3 stateful path: ops of one txn arrive across micro-batches; the
    commit in a later batch emits the whole transaction."""
    import json
    import os
    import time

    from mongoshake_spark.streaming.txn import reassemble_transactions

    src = tmp_path / "txn_src"
    os.makedirs(src)
    schema = (
        "lsid string, txnNumber long, seq long, op string, ns string, o string, "
        "commit boolean, abort boolean"
    )

    files_written = [0]

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # strictly increasing mtimes: the file source admits oldest-first,
        # and equal mtimes leave batch order arbitrary
        t = time.time() - 100 + files_written[0]
        os.utime(src / name, (t, t))
        files_written[0] += 1

    write_file(
        "b0.json",
        [
            {"lsid": "s1", "txnNumber": 1, "seq": 1, "op": "i", "ns": "a.b", "o": "{}",
             "commit": False, "abort": False},
            {"lsid": "s1", "txnNumber": 1, "seq": 2, "op": "u", "ns": "a.b", "o": "{}",
             "commit": False, "abort": False},
        ],
    )
    write_file(
        "b1.json",
        [
            {"lsid": "s1", "txnNumber": 1, "seq": 3, "op": "d", "ns": "a.b", "o": "{}",
             "commit": True, "abort": False},
        ],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = reassemble_transactions(stream)
    results = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: results.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    time.sleep(0.1)
    got = sorted((r["lsid"], r["seq"], r["op"]) for r in results)
    assert got == [("s1", 1, "i"), ("s1", 2, "u"), ("s1", 3, "d")]


def test_flush_is_incremental_per_bucket(spark, tmp_path):
    """Per-batch write I/O must scale with batch size, not state size: a
    small batch touching few hash buckets rewrites ONLY those _bucket=
    partitions (round-2 fix — the previous flush overwrote the whole state
    every micro-batch)."""
    import datetime
    import os as _os

    def snapshot(root):
        files = {}
        for dirpath, _, names in _os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = _os.path.join(dirpath, n)
                    files[p] = _os.path.getsize(p)
        return files

    t0 = datetime.datetime(2024, 1, 1)
    schema = (
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string"
    )
    big = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(seconds=i), i % 5000, "i", "db0.c1", float(i), "{}")
            for i in range(1, 20001)
        ],
        schema,
    )
    target = str(tmp_path / "t")
    kernel = ApplyKernel(spark, target, n_buckets=64)
    kernel.process_batch(big, 0)
    before = snapshot(target)
    n_buckets_on_disk = len(
        [d for d in _os.listdir(target) if d.startswith("_bucket=")]
    )
    assert n_buckets_on_disk == 64  # 5000 keys cover every bucket

    small = spark.createDataFrame(
        [
            (20001 + k, t0 + datetime.timedelta(hours=1, seconds=k), k, "u", "db0.c1", -1.0, "{}")
            for k in range(3)  # 3 keys -> at most 3 buckets
        ],
        schema,
    )
    kernel.process_batch(small, 1)
    after = snapshot(target)
    changed_dirs = {
        _os.path.relpath(p, target).split(_os.sep)[0]
        for p in (set(after) - set(before))
        | {p for p in after if p in before and after[p] != before[p]}
    }
    assert len(changed_dirs) <= 3, f"rewrote {len(changed_dirs)} buckets: {changed_dirs}"
    # untouched bucket files are byte-identical (same paths, same sizes)
    untouched = {p for p in before if _os.path.relpath(p, target).split(_os.sep)[0] not in changed_dirs}
    assert untouched <= set(after)
    assert all(after[p] == before[p] for p in untouched)
    # and the merge itself is still correct
    state = {r["user_id"]: r["value"] for r in kernel.state_view().collect()}
    assert state[0] == -1.0 and state[1] == -1.0 and state[2] == -1.0
    assert state[3] == 15003.0  # last writer for key 3 in the big batch

    # READ side scales with the batch too (round-4 fix): the small batch's
    # state slice covered at most its 3 buckets' files and a sliver of the
    # 5000-key state — not a full-state reload.
    total_files = sum(
        1
        for dirpath, _, names in _os.walk(target)
        for n in names
        if n.endswith(".parquet")
    )
    assert kernel.last_state_files_read <= 2 * 3
    assert kernel.last_state_files_read < total_files / 4
    assert kernel.last_state_rows_read < 5000 / 4


def test_state_slice_read_is_partition_pruned(spark, tmp_path):
    """Plan gate for the kernel's per-batch state read: the bucket ``IN``
    filter must reach the file index as a PartitionFilter (pruned scan),
    not a post-scan Filter over every bucket."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    big = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(seconds=i), i, "i", "db0.c1", float(i), "{}")
            for i in range(1, 2001)
        ],
        "id long, ts timestamp, user_id long, op string, ns string, value double, o string",
    )
    target = str(tmp_path / "t")
    kernel = ApplyKernel(spark, target, n_buckets=16)
    kernel.process_batch(big, 0)
    sliced = (
        spark.read.parquet(target)
        .filter(F.col("_bucket").isin([0, 1]))
        .drop("_bucket")
    )
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_flat_layout_migrates_to_bucketed_once(spark, tmp_path):
    """ADVICE round-3: a legacy flat ``*.parquet`` state dir must be
    re-bucketed before the first dynamic flush — otherwise the flat files
    survive beside the new ``_bucket=`` dirs and rows double-count."""
    import datetime
    import os as _os

    target = str(tmp_path / "t")
    legacy = spark.createDataFrame(
        [(k, float(k), "i", k) for k in range(1, 51)],
        "user_id long, value double, op string, id long",
    )
    legacy.write.parquet(target)  # flat layout, no _bucket
    assert any(f.endswith(".parquet") for f in _os.listdir(target))

    t0 = datetime.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [(100, t0, 7, "u", "db0.c1", -7.0, "{}")],
        "id long, ts timestamp, user_id long, op string, ns string, value double, o string",
    )
    kernel = ApplyKernel(spark, target, n_buckets=8)
    kernel.process_batch(batch, 0)

    # fully bucketed now: no flat files, marker pinned
    assert not any(f.endswith(".parquet") for f in _os.listdir(target))
    assert _os.path.isfile(_os.path.join(target, "_layout.json"))
    state = kernel.state_view()
    # no double-counted keys, update applied, legacy rows intact
    assert state.groupBy("user_id").count().filter("count > 1").count() == 0
    vals = {r["user_id"]: r["value"] for r in state.collect()}
    assert vals[7] == -7.0 and vals[8] == 8.0 and len(vals) == 50


def test_tombstone_compaction_under_watermark(spark, tmp_path):
    """W4 at scale: op='d' tombstones are physically dropped once the
    committed-batch watermark passes their ordinal — state must not grow
    monotonically with every key ever deleted — while replaying the
    delete batch (at-least-once) still converges to the same state."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    schema = (
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string"
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, t0 + datetime.timedelta(seconds=i), k, op, "db0.c1", float(i), "{}")
                for i, k, op in rows
            ],
            schema,
        )

    target = str(tmp_path / "t")
    # n_buckets=1 so every batch touches the tombstone's bucket (lazy
    # compaction runs whenever the bucket is rewritten)
    kernel = ApplyKernel(spark, target, n_buckets=1)
    kernel.process_batch(mk([(i, i, "i") for i in range(1, 11)]), 0)
    b1 = mk([(11, 3, "d")])
    kernel.process_batch(b1, 1)

    def raw_ops(ops="d"):
        return (
            spark.read.parquet(target).filter(F.col("op").isin(list(ops))).count()
        )

    # tombstone present: batch 1's watermark (10) hasn't passed ordinal 11
    assert raw_ops("d") == 1
    n_rows_before = spark.read.parquet(target).count()

    kernel.process_batch(mk([(12, 20, "i")]), 2)
    # watermark is now 11 >= tombstone ordinal -> physically compacted
    assert raw_ops("d") == 0
    assert spark.read.parquet(target).count() == n_rows_before  # -1 tomb +1 insert
    assert 3 not in {r["user_id"] for r in kernel.state_view().collect()}

    # replay safety: re-delivering the delete batch after compaction
    # re-merges idempotently (fresh kernel = post-crash restart)
    kernel2 = ApplyKernel(spark, target, n_buckets=1)
    kernel2.process_batch(b1, 1)
    vis = {r["user_id"]: r["value"] for r in kernel2.state_view().collect()}
    assert set(vis) == {1, 2, 4, 5, 6, 7, 8, 9, 10, 20}
    # and the replayed tombstone was compacted straight away (ord 11 <=
    # persisted watermark 12 from the marker)
    assert raw_ops("d") == 0


def test_bucket_count_change_rebuckets(spark, tmp_path):
    """Resuming with a different n_buckets must re-bucket the layout once
    (marker validation) — not scatter keys across two generations of
    buckets as silent duplicates."""
    import datetime
    import os as _os

    t0 = datetime.datetime(2024, 1, 1)
    schema = (
        "id long, ts timestamp, user_id long, op string, ns string, "
        "value double, o string"
    )
    target = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(i, t0, i % 100, "i", "db0.c1", float(i), "{}") for i in range(1, 201)],
        schema,
    )
    ApplyKernel(spark, target, n_buckets=4).process_batch(seed, 0)
    assert len([d for d in _os.listdir(target) if d.startswith("_bucket=")]) <= 4

    update = spark.createDataFrame(
        [(1000, t0 + datetime.timedelta(hours=1), 5, "u", "db0.c1", -5.0, "{}")],
        schema,
    )
    kernel2 = ApplyKernel(spark, target, n_buckets=16)
    kernel2.process_batch(update, 1)
    import json as _json

    with open(_os.path.join(target, "_layout.json")) as f:
        assert _json.load(f)["n_buckets"] == 16
    buckets = [
        int(d.split("=", 1)[1])
        for d in _os.listdir(target)
        if d.startswith("_bucket=")
    ]
    assert buckets and max(buckets) < 16 and len(buckets) > 4
    state = kernel2.state_view()
    assert state.groupBy("user_id").count().filter("count > 1").count() == 0
    vals = {r["user_id"]: r["value"] for r in state.collect()}
    assert vals[5] == -5.0 and len(vals) == 100


def test_stream_exact_dedup_suppresses_cross_batch_rearrivals(spark, tmp_path):
    import os
    import time as _time

    from pyspark.sql import functions as F

    from mongoshake_spark.streaming.dedup import stream_exact_dedup

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [(1, "alpha text", 1700000001), (2, "beta text", 1700000002)]
    rows2 = [(3, "alpha text", 1700000003),  # re-arrival -> suppressed
             (4, "gamma text", 1700000004)]
    schema = "doc_id bigint, text string, epoch bigint"
    for i, rows in enumerate((rows1, rows2)):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds(F.col("epoch"))
        ).drop("epoch").coalesce(1)
        df.write.mode("overwrite").parquet(f"{feed}/b{i}")
    # one directory-of-one-file per batch, mtime-ordered
    os.makedirs(out, exist_ok=True)
    files = []
    for i in range(2):
        d = f"{feed}/b{i}"
        f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
        files.append((i, os.path.join(d, f)))
    merged = str(tmp_path / "merged")
    os.makedirs(merged)
    t0 = _time.time() - 20
    for i, path in files:
        dst = os.path.join(merged, f"part-{i}.parquet")
        os.link(path, dst)
        os.utime(dst, (t0 + i, t0 + i))
    sch = "doc_id bigint, text string, ts timestamp"
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(merged)
    )
    q = (
        stream_exact_dedup(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).select("doc_id", "text_hash").collect()
    ids = sorted(r["doc_id"] for r in got)
    assert ids == [1, 2, 4], ids  # doc 3's content already seen in batch 1
    assert len({r["text_hash"] for r in got}) == 3


def test_txn_reassembly_spans_arrow_chunks(spark, tmp_path):
    """A transaction larger than arrow maxRecordsPerBatch reaches the
    state function as MULTIPLE pandas chunks in arbitrary order — the
    reassembly must sort the whole group once, not per chunk, or ops can
    emit after the commit out of seq order (or strand in state)."""
    import json
    import os

    from mongoshake_spark.streaming.txn import reassemble_transactions

    src = tmp_path / "txn_chunks"
    os.makedirs(src)
    n_ops = 40
    rows = [
        {"lsid": "s1", "txnNumber": 1, "seq": s, "op": "i", "ns": "a.b", "o": "{}",
         "commit": s == n_ops, "abort": False}
        for s in range(1, n_ops + 1)
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = (
        "lsid string, txnNumber long, seq long, op string, ns string, o string, "
        "commit boolean, abort boolean"
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(schema).json(str(src))
        results = []
        q = (
            reassemble_transactions(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: results.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert [r["seq"] for r in results] == list(range(1, n_ops + 1))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


_MULTI_SCHEMA = (
    "id long, ts timestamp, user_id long, op string, ns string, "
    "value double, o string"
)


def _ns_state(spark, root, ns):
    """One namespace's live ``{user_id: value}`` in the shared table."""
    return {
        r["user_id"]: r["value"]
        for r in spark.read.parquet(root)
        .filter((F.col("ns") == ns) & (F.col("op") != "d"))
        .select("user_id", "value")
        .collect()
    }


def test_multi_table_apply_routes_per_namespace(spark, sf_dir, tmp_path):
    """The whole-deployment shape: one stream + one checkpoint drive one
    kernel keyed on (ns, user_id); each namespace's rows in the shared
    table equal that namespace's own last-writer-wins reconstruction,
    and cross-ns keys never mix."""
    from mongoshake_spark.streaming.multi import NS_KEY, run_multi_incr_sync

    # synthesize a 2-namespace feed: the events oplog with rows split
    # deterministically between two collections
    ov = oplog_view(load_table(spark, sf_dir, "events"))
    two_ns = ov.withColumn(
        "ns",
        F.when(F.col("user_id") % 2 == 0, F.lit("db0.even")).otherwise(
            F.lit("db0.odd")
        ),
    )
    feed = str(tmp_path / "feed")
    (
        two_ns.repartitionByRange(4, "ts", "id")
        .sortWithinPartitions("ts", "id")
        .write.parquet(feed)
    )
    # the file stream admits oldest-mtime-first and one write job shares
    # an mtime: stamp range order like write_replay_feed does, or the
    # replay order (and the kernel's compaction watermark assumption)
    # is arbitrary
    import os as _os
    import time as _time

    parts = sorted(f for f in _os.listdir(feed) if f.endswith(".parquet"))
    base = _time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        _os.utime(_os.path.join(feed, f), (base + i, base + i))
    root = str(tmp_path / "root")
    kernel = run_multi_incr_sync(
        spark, feed, root, str(tmp_path / "ck"), max_files_per_trigger=1,
    )
    assert kernel.key == NS_KEY
    # one bucketed table: no per-namespace directory under the root
    assert [d for d in _os.listdir(root) if not d.startswith(("_", "."))] == []
    assert {
        r["ns"] for r in spark.read.parquet(root).select("ns").distinct().collect()
    } == {"db0.even", "db0.odd"}
    for ns, parity in (("db0.even", 0), ("db0.odd", 1)):
        want = {
            r["user_id"]: r["value"]
            for r in merge.last_writer_wins(
                two_ns.filter(F.col("ns") == ns)
            ).collect()
        }
        got = _ns_state(spark, root, ns)
        assert got == want
        assert all(k % 2 == parity for k in got)


def test_multi_table_apply_lazy_namespace_and_unroutable(spark, tmp_path):
    """A namespace first seen mid-stream needs no setup: it is one more
    ``ns`` value in the shared table. Rows with a NULL ns reach the
    dead-letter table — with NO dead_letter_dir configured it defaults
    under the root — and the M4 batch journal records them too."""
    import datetime
    import os

    from mongoshake_spark.streaming.multi import multi_ns_kernel, ns_state_view

    t0 = datetime.datetime(2024, 1, 1)
    root = str(tmp_path / "root")
    jdir = str(tmp_path / "journal")
    kernel = multi_ns_kernel(spark, root, journal_dir=jdir)
    b0 = spark.createDataFrame(
        [
            (1, t0, 1, "i", "db0.a", 1.0, "{}"),
            (2, t0, 2, "i", None, 2.0, "{}"),       # NULL ns: unroutable
            (3, t0, 3, "c", None, None, '{"drop": "a"}'),  # command, no ns
        ],
        _MULTI_SCHEMA,
    )
    kernel.process_batch(b0, 0)
    assert kernel.ddl_log == []
    b1 = spark.createDataFrame(
        [(4, t0, 4, "i", "db0.b", 4.0, "{}")], _MULTI_SCHEMA
    )
    kernel.process_batch(b1, 1)
    assert {
        r["ns"] for r in spark.read.parquet(root).select("ns").distinct().collect()
    } == {"db0.a", "db0.b"}
    # unroutable rows recorded under the DEFAULT dead-letter, never dropped
    dl = spark.read.parquet(f"{root}/_dead_letter")
    assert sorted(r["id"] for r in dl.collect()) == [2, 3]
    # M4: the journal holds every row of every batch, unroutable included
    assert spark.read.parquet(jdir).count() == 4
    assert ns_state_view(kernel, "db0.b").count() == 1
    assert ns_state_view(kernel, "db0.missing").count() == 0
    # the dead-letter table lives under the root: a one-time re-bucketing
    # of the state (new bucket count) carries it over
    rebucketed = multi_ns_kernel(spark, root, n_buckets=8)
    assert ns_state_view(rebucketed, "db0.a").count() == 1
    dl = spark.read.parquet(f"{root}/_dead_letter")
    assert sorted(r["id"] for r in dl.collect()) == [2, 3]
    assert ns_state_view(
        multi_ns_kernel(spark, str(tmp_path / "empty")), "db0.a"
    ) is None
    assert not os.path.exists(str(tmp_path / "empty"))


def test_multi_table_ns_sanitization_is_collision_free(spark, tmp_path):
    """``ns`` is a column, not a path: names a per-namespace directory
    layout would have had to sanitize ('..', '/', '@', '') are ordinary
    key values, stay distinct from their look-alikes, and create nothing
    outside the root."""
    import datetime
    import os

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    t0 = datetime.datetime(2024, 1, 1)
    names = ["db0.coll-1_x", "..", ".", "", "a/b", "a_b", "a@b", "a#b"]
    root = str(tmp_path / "nest" / "root")
    kernel = multi_ns_kernel(spark, root, n_buckets=4)
    kernel.process_batch(spark.createDataFrame(
        [(i, t0, 7, "i", ns, float(i), "{}") for i, ns in enumerate(names)],
        _MULTI_SCHEMA,
    ), 0)
    got = {
        r["ns"]: r["value"]
        for r in kernel.state_view().select("ns", "value").collect()
    }
    assert got == {ns: float(i) for i, ns in enumerate(names)}
    assert os.listdir(str(tmp_path / "nest")) == ["root"]
    assert not any(
        os.path.isdir(os.path.join(root, d)) and not d.startswith("_")
        for d in os.listdir(root)
    )


def test_multi_table_rejects_mirror(spark, tmp_path):
    import pytest

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    with pytest.raises(ValueError, match="mirror"):
        multi_ns_kernel(spark, str(tmp_path / "r"), mirror=lambda d, b: None)


def test_multi_table_refuses_legacy_per_namespace_root(spark, tmp_path):
    """A root in the retired one-kernel-per-namespace layout (each
    namespace's own bucketed dir with its own _layout.json) fails loudly
    at open, naming the directory and the remedy: those files carry no
    ns column, so no exact migration exists."""
    import json
    import os

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    root = tmp_path / "root"
    for ns in ("db0.a", "db0.b"):
        os.makedirs(root / ns / "_bucket=0")
        (root / ns / "_layout.json").write_text(
            json.dumps({"n_buckets": 64, "watermark": 3})
        )
    with pytest.raises(RuntimeError, match="per-namespace") as err:
        multi_ns_kernel(spark, str(root))
    msg = str(err.value)
    assert str(root) in msg and "db0.a" in msg and "fresh checkpoint" in msg
    assert sorted(os.listdir(root)) == ["db0.a", "db0.b"]  # nothing written


def test_multi_table_resume_from_checkpoint(spark, sf_dir, tmp_path):
    """S13 for the whole-deployment shape: crash after a prefix of
    batches, restart with the same checkpoint and a FRESH kernel (it
    re-opens the shared watermarked state), and every namespace's final
    state is exact — nothing lost or double-applied."""
    from mongoshake_spark.streaming.multi import multi_ns_kernel
    from mongoshake_spark.streaming.replay import write_replay_feed

    feed = str(tmp_path / "feed")
    write_replay_feed(spark, sf_dir, feed, batch_rows=200)
    root, ckpt = str(tmp_path / "root"), str(tmp_path / "ck")

    kernel = multi_ns_kernel(spark, root)
    seen = {"n": 0}
    orig = kernel.process_batch

    def first_two(batch, bid):
        if seen["n"] >= 2:
            raise RuntimeError("simulated crash")
        orig(batch, bid)
        seen["n"] += 1

    q = (
        read_oplog_stream(spark, feed, max_files_per_trigger=1)
        .writeStream.foreachBatch(first_two)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    kernel2 = multi_ns_kernel(spark, root)  # fresh kernel
    q2 = (
        read_oplog_stream(spark, feed, max_files_per_trigger=1)
        .writeStream.foreachBatch(kernel2.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    ov = oplog_view(load_table(spark, sf_dir, "events"))
    for ns in [r["ns"] for r in ov.select("ns").distinct().collect()][:4]:
        want = {
            r["user_id"]: r["value"]
            for r in merge.last_writer_wins(ov.filter(F.col("ns") == ns)).collect()
        }
        assert _ns_state(spark, root, ns) == want


class _RecordingDDL:
    """A ddl_executor that records each command it is asked to run."""

    def __init__(self):
        self.executed = []

    def execute(self, ns, o):
        self.executed.append((ns, o))


def test_multi_table_routes_admin_commands_per_db(spark, tmp_path):
    """A 'db.$cmd' command row is journaled and executed ONCE, in global
    (ts, id) order, however many namespaces of that db the batch
    carries; no '$cmd' state appears and other namespaces are intact."""
    import datetime
    import os

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    t0 = datetime.datetime(2024, 1, 1)
    root = str(tmp_path / "root")
    ddl = _RecordingDDL()
    kernel = multi_ns_kernel(spark, root, ddl_executor=ddl)
    batch = spark.createDataFrame(
        [
            (1, t0, 1, "i", "db0.a", 1.0, "{}"),
            (2, t0, 2, "i", "db0.b", 2.0, "{}"),
            (3, t0, 3, "c", "db0.$cmd", None, '{"create": "a2"}'),
            (4, t0, 4, "i", "db1.x", 4.0, "{}"),
        ],
        _MULTI_SCHEMA,
    )
    kernel.process_batch(batch, 0)
    assert [x[0] for x in kernel.ddl_log] == [3]
    assert ddl.executed == [("db0.$cmd", '{"create": "a2"}')]
    assert {
        (r["ns"], r["user_id"]) for r in kernel.state_view().collect()
    } == {("db0.a", 1), ("db0.b", 2), ("db1.x", 4)}
    assert not any("$cmd" in d or "_cmd" in d for d in os.listdir(root))


def test_stream_interval_join_matches_across_micro_batches(spark, tmp_path):
    """Stream-stream interval join: a right row arriving in a LATER
    micro-batch must still pair with a left row buffered from an earlier
    one (the state store holds each side until the watermark passes),
    and rows outside the window must not pair."""
    import json
    import os
    import time

    from mongoshake_spark.streaming.joins import stream_interval_join

    ldir, rdir = tmp_path / "sj_left", tmp_path / "sj_right"
    os.makedirs(ldir), os.makedirs(rdir)
    n = [0]

    def write_file(d, name, rows):
        with open(d / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        t = time.time() - 100 + n[0]
        os.utime(d / name, (t, t))
        n[0] += 1

    # left batch 1: two anchors; right batch 1: empty-ish; right batch 2
    # carries the matches for batch-1 anchors (cross-batch pairing)
    write_file(ldir, "l0.json", [
        {"k": 1, "l_ts": "2024-01-01 10:00:00", "lid": 100},
        {"k": 2, "l_ts": "2024-01-01 10:00:00", "lid": 200},
    ])
    write_file(ldir, "l1.json", [
        {"k": 1, "l_ts": "2024-01-01 12:00:00", "lid": 101},
    ])
    write_file(rdir, "r0.json", [
        {"k": 1, "r_ts": "2024-01-01 09:59:59", "rid": 900},  # before: no
    ])
    write_file(rdir, "r1.json", [
        {"k": 1, "r_ts": "2024-01-01 10:20:00", "rid": 901},  # batch-1 left
        {"k": 2, "r_ts": "2024-01-01 10:31:00", "rid": 902},  # > 30min: no
        {"k": 1, "r_ts": "2024-01-01 12:05:00", "rid": 903},  # batch-2 left
    ])
    ls = (
        spark.readStream.schema("k long, l_ts timestamp, lid long")
        .option("maxFilesPerTrigger", 1).json(str(ldir))
    )
    rs = (
        spark.readStream.schema("k long, r_ts timestamp, rid long")
        .option("maxFilesPerTrigger", 1).json(str(rdir))
    )
    joined = stream_interval_join(
        ls, rs, "k", "l_ts", "r_ts", 0, 1800, watermark="10 minutes"
    )
    results = []
    q = (
        joined.select("lid", "rid")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: results.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    time.sleep(0.1)
    assert sorted((r["lid"], r["rid"]) for r in results) == [
        (100, 901), (101, 903)
    ]


def test_stream_interval_join_requires_distinct_ts_names(spark, tmp_path):
    import pytest

    from mongoshake_spark.streaming.joins import stream_interval_join

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="alias the ts columns apart"):
        stream_interval_join(df, df, "value", "timestamp", "timestamp", 0, 1)


def test_streaming_neardup_index_persists_across_runs(spark, tmp_path):
    """Ingest-time near-dup: the band index is the stream's state and
    must survive a restart — a SECOND drain over a new feed file pairs
    the new docs against everything already indexed (origin=corpus) and
    against themselves (origin=increment), without re-pairing the old
    corpus."""
    import os
    import time

    from mongoshake_spark.streaming.neardup import run_streaming_lsh_dedup

    text_a = "the quick brown fox jumps over the lazy dog tonight"
    text_b = "the quick brown fox jumps over the lazy dog today"   # near-dup of a
    text_c = "completely different words about spark and shuffles here"
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    work = str(tmp_path / "work")

    def feed_file(name, rows, age):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        d = str(tmp_path / ("st_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dst = os.path.join(feed, name + ".parquet")
        os.replace(os.path.join(d, part), dst)
        os.utime(dst, (time.time() - age, time.time() - age))

    feed_file("one", [(1, text_a), (2, text_c)], 20)
    pairs1 = {tuple(r) for r in run_streaming_lsh_dedup(
        spark, feed, work
    ).collect()}
    assert pairs1 == set()  # nothing near-duplicated yet
    # restart with a new arrival that near-dups doc 1
    feed_file("two", [(3, text_b)], 10)
    pairs2 = {tuple(r) for r in run_streaming_lsh_dedup(
        spark, feed, work
    ).collect()}
    assert (1, 3, "corpus") in pairs2
    assert all(p[1] == 3 for p in pairs2)  # only the new doc pairs


def test_streaming_neardup_first_batch_emits_increment_pairs(spark, tmp_path):
    """The first micro-batch (no band index yet) pairs the batch against
    itself: a near-dup pair inside the first file comes out once, with
    origin='increment', equal to the batch minhash_pairs over the same
    docs, and no doc pairs with itself."""
    import os

    from mongoshake_spark.functions.dedup import minhash_pairs
    from mongoshake_spark.streaming.neardup import run_streaming_lsh_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different words about spark and shuffles here"),
        (3, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    feed = str(tmp_path / "feed")
    docs.coalesce(1).write.parquet(feed)
    work = str(tmp_path / "work")
    pairs = {tuple(r) for r in run_streaming_lsh_dedup(
        spark, feed, work
    ).collect()}
    assert pairs == {(1, 3, "increment")}
    assert {(a, b) for a, b, _ in pairs} == {
        tuple(r) for r in minhash_pairs(docs).collect()
    }
    written = spark.read.parquet(os.path.join(work, "pairs"))
    assert written.count() == 1  # no repeat across the pair's shared bands
    assert written.filter("doc_a = doc_b").count() == 0


def test_receiver_max_wall_flushes_pending(spark, tmp_path):
    """The receiver's wall-clock bound must exit THROUGH a flush: logs
    received but not yet batch-applied when max_wall strikes land in the
    target instead of being stranded in memory."""
    import json as _json
    import threading
    import time

    from mongoshake_spark.sources import socket_tunnel as st
    from mongoshake_spark.streaming.receive import run_receiver

    box: dict = {}
    ready = threading.Event()

    def serve():
        box["summary"] = run_receiver(
            spark,
            str(tmp_path / "t"),
            idle_timeout=9999,  # idle exit unreachable: max_wall must fire
            max_wall=6.0,
            poll=0.1,
            batch_rows=10_000,  # never reached -> tail only flushable at exit
            n_buckets=4,
            on_ready=lambda p: (box.__setitem__("port", p), ready.set()),
        )

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    assert ready.wait(30)
    client = st.TunnelClient("127.0.0.1", box["port"])
    logs = [
        _json.dumps(
            {"id": i, "ts": "2024-01-01 00:00:00", "user_id": i % 5,
             "op": "i", "ns": "db.c", "value": float(i), "o": "{}"}
        ).encode()
        for i in range(40)
    ]
    client.send(logs, 0, 39)
    client.close()
    th.join(60)
    assert not th.is_alive()
    s = box["summary"]
    assert s["logs"] == 40 and s["state_rows"] == 5


def test_multi_table_cmd_only_batch_is_journaled_once(spark, tmp_path):
    """A micro-batch whose ONLY row is a db.$cmd command (routine at
    maxFilesPerTrigger=1) still reaches the barrier: journaled and
    executed once, with the existing state untouched."""
    import datetime

    from mongoshake_spark.streaming.multi import multi_ns_kernel

    t0 = datetime.datetime(2024, 1, 1)
    ddl = _RecordingDDL()
    kernel = multi_ns_kernel(
        spark, str(tmp_path / "root"), n_buckets=4, ddl_executor=ddl
    )
    kernel.process_batch(spark.createDataFrame(
        [(1, t0, 1, "i", "db0.c1", 1.0, "{}"),
         (2, t0, 2, "i", "db1.c9", 2.0, "{}")], _MULTI_SCHEMA), 0)
    # batch 1: ONLY a db0 command — no CRUD rows anywhere
    kernel.process_batch(spark.createDataFrame(
        [(3, t0, 0, "c", "db0.$cmd", 0.0, '{"drop":"c1"}')], _MULTI_SCHEMA), 1)
    assert [o[0] for o in kernel.ddl_log] == [3]
    assert ddl.executed == [("db0.$cmd", '{"drop":"c1"}')]
    assert kernel.state_view().count() == 2


def test_ann_ingest_store_matches_batch_and_is_replay_idempotent(
    spark, tmp_path
):
    """streaming/ann_ingest: the drained store's top-k equals the batch
    ivfpq_topk on the same corpus (frozen model => batch-size-invariant
    encode), and a full REPLAY of the feed (fresh checkpoint, same files
    re-appended) changes nothing — the probe dedups by id."""
    import os

    from mongoshake_spark.functions.quantization import ivfpq_topk
    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
        streaming_ann_ingest,
    )

    vecs = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 300)
        .localCheckpoint(eager=True)
    )
    idx = str(tmp_path / "index")
    feed = str(tmp_path / "feed")
    ann_index_bootstrap(vecs, idx, m=4, k_code=8, iters=2)
    os.makedirs(feed)
    for i in range(2):
        d = str(tmp_path / f"b{i}")
        vecs.filter(F.col("vec_id") % 2 == i).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(os.path.join(d, part), f"{feed}/c{i}.parquet")

    def drain_from(ckpt):
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        drain(streaming_ann_ingest(stream, idx, ckpt), "ann ingest drain", 300)

    drain_from(str(tmp_path / "ckpt1"))
    queries = vecs.filter(F.col("vec_id") < 5)
    got1 = sorted(
        tuple(r) for r in ann_index_topk(spark, idx, queries, k=5, n_probe=2).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_topk(
            vecs, list(range(5)), k=5, n_probe=2, m=4, k_code=8, iters=2
        ).collect()
    )
    assert got1 == want and len(got1) == 25
    # replay: fresh checkpoint reprocesses every file -> duplicate appends
    drain_from(str(tmp_path / "ckpt2"))
    got2 = sorted(
        tuple(r) for r in ann_index_topk(spark, idx, queries, k=5, n_probe=2).collect()
    )
    assert got2 == got1


def test_ann_ingest_without_bootstrap_fails_loudly(spark, tmp_path):
    import os

    from mongoshake_spark.streaming.ann_ingest import streaming_ann_ingest

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(10)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    vecs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b0"))
    part = next(
        f for f in os.listdir(str(tmp_path / "b0")) if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "b0" / part), f"{feed}/c0.parquet")
    stream = spark.readStream.schema(vecs.schema).parquet(feed)
    # fails at WIRING time (the frozen model is read and pinned before the
    # stream starts), not inside some later micro-batch
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        streaming_ann_ingest(stream, str(tmp_path / "idx"), str(tmp_path / "ck"))


def test_streaming_phash_dedup_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """Media twin of the LSH ingest stream: drained pairs equal the batch
    phash_pairs run (pigeonhole — every Hamming<=3 pair shares a band, so
    cross-batch probing + intra-batch join lose nothing), and a full
    replay only re-emits the same (doc_a, doc_b) pairs."""
    import os

    from mongoshake_spark.operators.multimodal import attach_fake_media, phash_pairs
    from mongoshake_spark.streaming.neardup import streaming_phash_dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .localCheckpoint(eager=True)
    )
    media = attach_fake_media(docs)
    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in phash_pairs(media).collect()
    }
    assert want  # the fixture has exact dups -> hamming-0 pairs exist

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i in range(2):
        d = str(tmp_path / f"b{i}")
        media.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(os.path.join(d, part), f"{feed}/c{i}.parquet")

    def drain_from(ck):
        stream = (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        drain(
            streaming_phash_dedup(
                stream, str(tmp_path / "index"), str(tmp_path / "pairs"), ck
            ),
            "phash drain", 300,
        )

    drain_from(str(tmp_path / "ck1"))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert got == want
    # some pairs must genuinely cross the batch boundary (origin=corpus)
    origins = {
        r["origin"]
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert origins == {"increment", "corpus"}
    # replay: fresh checkpoint reprocesses the feed; pair SET unchanged
    drain_from(str(tmp_path / "ck2"))
    got2 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert got2 == want


def test_write_class_feed_one_file_per_class_in_one_job(spark, tmp_path):
    """_write_class_feed must produce exactly one parquet file per
    arrival class, carrying exactly that class's rows with the source
    schema (no class column), mtime-ordered — file = micro-batch is what
    every replay harness's cross-batch claim stands on."""
    import os

    from mongoshake_spark.plans.queries._shared import _write_class_feed

    df = spark.range(0, 97).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    feed = str(tmp_path / "feed")
    sc = spark.sparkContext
    # count under a job group of its own: the ungrouped job list is a
    # window the status tracker trims by 100 once the session passes
    # spark.ui.retainedJobs, so a before/after difference on it can go
    # negative mid-suite
    sc.setJobGroup("class-feed-write", "class-feed-write")
    try:
        _write_class_feed(df, F.col("doc_id") % 3, 3, feed, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # ONE write job (the old per-class filter+coalesce loop ran three)
    assert len(sc.statusTracker().getJobIdsForGroup("class-feed-write")) == 1
    files = sorted(os.listdir(feed))
    assert files == ["class0.parquet", "class1.parquet", "class2.parquet"]
    mtimes = [os.path.getmtime(os.path.join(feed, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for i, f in enumerate(files):
        got = spark.read.parquet(os.path.join(feed, f))
        assert got.columns == ["doc_id", "text"]
        ids = {r["doc_id"] for r in got.collect()}
        assert ids == {n for n in range(97) if n % 3 == i}


def test_write_class_feed_empty_class_fails_loudly(spark, tmp_path):
    import pytest as _pytest

    from mongoshake_spark.plans.queries._shared import _write_class_feed

    df = spark.range(0, 10).select((F.col("id") * 2).alias("doc_id"))
    with _pytest.raises(RuntimeError, match="produced no rows"):
        _write_class_feed(
            df, F.col("doc_id") % 2, 2, str(tmp_path / "feed"), str(tmp_path)
        )


def _two_file_feed(spark, tmp_path):
    import os
    import time

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i in range(2):
        d = str(tmp_path / f"b{i}")
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(os.path.join(d, part), f"{feed}/c{i}.parquet")
        os.utime(f"{feed}/c{i}.parquet", (time.time() - 10 + i,) * 2)
    return (
        spark.readStream.schema("id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def test_drain_returns_per_batch_progress(spark, tmp_path):
    """One progress entry per micro-batch (two feed files, one file per
    trigger, a stateless sink: no closing no-data batch), each carrying
    its ``durationMs`` phases; the rows all reach the sink."""
    seen = []
    progress = drain(
        _two_file_feed(spark, tmp_path)
        .writeStream.foreachBatch(lambda df, bid: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ck")),
        "two-file drain",
        300,
    )
    assert seen == [10, 10]
    assert [p["numInputRows"] for p in progress] == [10, 10]
    assert all("addBatch" in p["durationMs"] for p in progress)


def test_drain_timeout_stops_the_query_and_names_it(spark, tmp_path):
    import time

    def slow(df, bid):
        time.sleep(2)

    with pytest.raises(TimeoutError, match="slow drain did not drain"):
        drain(
            _two_file_feed(spark, tmp_path)
            .writeStream.foreachBatch(slow)
            .option("checkpointLocation", str(tmp_path / "ck")),
            "slow drain",
            0.5,
        )
    assert not spark.streams.active


def test_stream_session_is_one_child_per_width_with_the_callers_conf(spark):
    """One reused child per (caller, width); its SQL conf is the caller's
    except the width, and follows the caller's later conf changes."""
    width = "spark.sql.shuffle.partitions"
    child = stream_session(spark, 8)
    assert stream_session(spark, 8) is child
    assert child is not spark and stream_session(spark, 4) is not child
    assert child.sparkContext is spark.sparkContext
    # keyed on the caller object: a rebuilt session gets fresh children
    assert stream_session(spark.newSession(), 8) is not child

    def others(s):
        return {k: v for k, v in s.conf.getAll.items() if k != width}

    assert child.conf.get(width) == "8"
    assert others(child) == others(spark)
    marker = "spark.mongoshake.test.streamSessionMarker"
    spark.conf.set(marker, "on")
    try:
        assert stream_session(spark, 8).conf.get(marker, None) == "on"
    finally:
        spark.conf.unset(marker)
    assert stream_session(spark, 8).conf.get(marker, None) is None
    assert others(child) == others(spark)


def test_stream_session_makes_one_child_per_width_under_contention(spark):
    """Many threads asking for the same fresh widths at once get one child
    per width (the lookup-or-create is one atomic step)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    widths = [5, 6] * 16
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            got = list(ex.map(lambda w: (w, stream_session(spark, w)), widths))
    finally:
        sys.setswitchinterval(old)
    for w in (5, 6):
        children = {id(c) for width, c in got if width == w}
        assert len(children) == 1
    assert {c.conf.get("spark.sql.shuffle.partitions") for _, c in got} == {"5", "6"}


def test_kernels_on_one_caller_plan_in_one_pooled_child(spark, tmp_path, monkeypatch):
    """Every apply kernel plans in its caller's pooled child session: three
    kernels on one caller, one batch each, make one child between them,
    and kernels on a second caller make one more. A child per kernel was
    released by the JVM only once py4j dropped it, so a process opening
    kernels in a loop kept sessions alive."""
    import datetime

    from pyspark.sql import SparkSession

    callers = [spark.newSession(), spark.newSession()]  # no pooled child yet
    made = []
    new = SparkSession.newSession

    def counted(self):
        made.append(self)
        return new(self)

    monkeypatch.setattr(SparkSession, "newSession", counted)
    t0 = datetime.datetime(2024, 1, 1)
    for i, caller in enumerate(callers[:1] * 3 + callers[1:] * 2):
        kernel = ApplyKernel(caller, str(tmp_path / f"t{i}"))
        batch = caller.createDataFrame(
            [(j, t0 + datetime.timedelta(seconds=j), j % 5, "i", "db0.c1",
              float(j), "{}") for j in range(10)],
            _MULTI_SCHEMA,
        )
        kernel.process_batch(batch, 0)
        assert kernel.state_view().count() == 5
    assert len(made) == 2
    assert made[0] is callers[0] and made[1] is callers[1]


def test_feed_files_and_child_sessions_are_made_in_one_module_each():
    """Source guard: in the package only ``streaming/replay.py`` stamps
    feed mtimes (``os.utime``) or sets ``maxFilesPerTrigger``, and only
    ``streaming/drain.py`` makes child sessions (``newSession()``). A
    stream query that hand-rolls either bypasses the replay convention or
    the per-caller session pool."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mongoshake_spark"
    found: dict[str, set[str]] = {
        "utime": set(), "maxfilespertrigger": set(), "newSession": set()
    }
    for path in pkg.rglob("*.py"):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            if name in ("utime", "newSession"):
                found[name].add(rel)
            # Spark reads option keys case-insensitively
            keys = [kw.arg for kw in node.keywords] + [
                a.value for a in node.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            ]
            if any((k or "").lower() == "maxfilespertrigger" for k in keys):
                found["maxfilespertrigger"].add(rel)
    assert found == {
        "utime": {"streaming/replay.py"},
        "maxfilespertrigger": {"streaming/replay.py"},
        "newSession": {"streaming/drain.py"},
    }


def test_concurrent_width_setting_streams_leave_the_session_width_alone(
    spark, sf_dir
):
    """Two stream queries that drain at their own widths (stream_join at 4,
    stream_dedup at 8) run in two threads on ONE session, while a third
    thread polls the session's shuffle width: both results must match
    their DuckDB oracles, and the session must never show another width."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from mongoshake_spark.plans import QUERIES

    from tests.oracle_harness import compare, run_oracle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    polled, done = [], threading.Event()

    def poll():
        while not done.is_set():
            polled.append(spark.conf.get(key))
            time.sleep(0.01)

    def run(name):
        q = QUERIES[name]
        return compare(q.fn(spark, sf_dir), run_oracle(sf_dir, q.oracle))

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        with ThreadPoolExecutor(max_workers=2) as ex:
            results = dict(
                zip(
                    ("stream_join", "stream_dedup"),
                    ex.map(run, ("stream_join", "stream_dedup")),
                )
            )
    finally:
        done.set()
        poller.join(10)
    for name, (ok, msg) in results.items():
        assert ok, f"{name}: {msg}"
    assert polled and set(polled) == {before}
    assert spark.conf.get(key) == before
