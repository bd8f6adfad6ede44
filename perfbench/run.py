"""Benchmark runner for the engine in the repository root.

    python3 perfbench/run.py --workload {oplog_catchup,curation} \\
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It builds its own inputs from the seed
(``gen.py``), starts the Spark session the engine configures
(``mongoshake_spark.session.get_spark``) on ``local[<nproc>]``, stages and
warms up the workload (``setup_s``), then runs the workload's timed
repetition at least ``MIN_REPS`` times and on to the repetition boundary
nearest to ``--seconds``, and checks every output.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones:

- ``setup_s``: session start, input staging and the warm-up;
- ``rep_s``: median wall of a timed repetition (a catch-up call, a pass);
- ``ops_per_s``: oplog entries (or queries) per second of a repetition,
  median over repetitions;
- ``batch_p50_s``: median batch: a micro-batch's ``triggerExecution``, or
  a whole pass for curation.

The lines before it print each metric with its unit, the failed share of
operations and ``batch_tail_s``, the highest percentile of the steps with
at least 10 beyond it (the maximum when a run has fewer than 11 steps).
With ``--trace 1`` the metrics are the per-layer ones (``layers.py``),
read from the runner's spans, a stream progress listener, a driver stack
sampler, ``/proc`` and the Spark event log, which only the traced run
turns on (through the launch config).
``trace.accounted_frac`` is the share of the timed wall that micro-batch
triggers (oplog_catchup) or query spans (curation) cover; it is expected
above 0.75 and 0.95.

Everything the run writes stays under the checkout: scratch files in
``.perfbench_work/<run id>`` (removed at exit) and one artifact per run,
with host health and provenance, in ``.perfbench_runs/<run id>.json``.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
SF = 0.01
#: timed repetitions per run at least, so a median has something to reject
MIN_REPS = 3

#: end-to-end metric -> unit
END_TO_END = {"setup_s": "s", "rep_s": "s", "ops_per_s": "1/s", "batch_p50_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("oplog_catchup", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs for the self-test
    p.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    p.add_argument("--feed-rows", type=int, default=1024, help=argparse.SUPPRESS)
    p.add_argument("--golden-dir", default=os.path.join(HERE, "golden"),
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``values`` with at
    least 10 samples beyond it, or the maximum when there are 10 or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def launch_env(work: str, cores: int, traced: bool) -> None:
    """Launcher settings, made before the JVM starts."""
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    driver_mb = min(4096, mem_mb // 4)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # get_spark defaults to 16g; stay well below physical memory
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    time.tzset()


def stop_session(spark, tree_pids) -> None:
    """Stop Spark, the driver JVM and the Python workers, and wait for
    each of them to exit."""
    started = [p for p in tree_pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def provenance(cores: int, sf: float, seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "mongoshake_spark"))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"cores": cores, "sf": sf, "seed": seed, "commit": commit,
            "engine_sha256": h.hexdigest()}


def untraced_rep_s(args) -> tuple[float, str]:
    """The untraced ``rep_s`` the tracing overhead is measured against:
    the newest untraced artifact of this workload (same seed preferred),
    else a fresh untraced run of it."""
    best = None
    if os.path.isdir(RUNS_DIR):
        for name in os.listdir(RUNS_DIR):
            try:
                with open(os.path.join(RUNS_DIR, name)) as fh:
                    a = json.load(fh)
            except (OSError, ValueError):
                continue
            if (a.get("workload") == args.workload and a.get("trace") == 0
                    and a["result"]["correct"] and a.get("sf") == args.sf):
                key = (a["seed"] == args.seed, a["finished"])
                if best is None or key > best[0]:
                    best = (key, a["result"]["metrics"]["rep_s"]["value"], name)
    if best:
        return best[1], best[2]
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--sf", str(args.sf), "--feed-rows", str(args.feed_rows),
           "--golden-dir", args.golden_dir]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    return result["metrics"]["rep_s"]["value"], "fresh untraced run"


def measure(args, work: str, run_id: str, cores: int) -> dict:
    import layers
    import tracing
    import workloads

    traced = args.trace == 1
    overhead_ref = untraced_rep_s(args) if traced else None
    launch_env(work, cores, traced)
    os.chdir(work)

    from mongoshake_spark.session import get_spark

    spans = tracing.Spans(run_id)
    t0 = time.perf_counter()
    span = spans.open("setup.session")
    spark = get_spark("perfbench")
    spans.close(span)
    try:
        listener = tracing.make_progress_listener()
        spark.streams.addListener(listener)
        stack = tracing.StackSampler().start() if traced else None
        procs = tracing.ProcSampler().start() if traced else None

        wl = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.sf, spans, listener)
        staged = wl.setup(args)
        setup_s = time.perf_counter() - t0

        measure_idx = spans.open("measure")
        t1 = time.perf_counter()
        reps = []
        while True:
            reps.append(wl.rep())
            # at least MIN_REPS, then stop at the boundary nearest to --seconds
            elapsed = time.perf_counter() - t1
            if len(reps) >= MIN_REPS and elapsed + reps[-1]["wall_s"] / 2 >= args.seconds:
                break
        spans.close(measure_idx)
        for sampler in (stack, procs):
            if sampler:
                sampler.stop()
    finally:
        stop_session(spark, tracing.tree_pids)

    attempted = sum(r["attempted"] for r in reps) + staged.get("warm_up_attempted", 0)
    failed = sum(r["failed"] for r in reps) + staged.get("warm_up_failed", 0)
    steps = [s for r in reps for s in r["steps_s"]]
    tail_s, tail_pct, n_steps = tail(steps)
    e2e = {
        "setup_s": setup_s,
        "rep_s": statistics.median(r["wall_s"] for r in reps),
        "ops_per_s": statistics.median(r["ops"] / r["wall_s"] for r in reps),
        "batch_p50_s": statistics.median(steps),
    }
    record = {
        "staged": staged,
        "reps": reps,
        "batch_tail_s": {"value": tail_s, "percentile": tail_pct, "samples": n_steps},
        "end_to_end": e2e,
        "fail_ratio": failed / attempted if attempted else 0.0,
        "spans": [dict(r, self_s=spans.self_time(i)) for i, r in enumerate(spans.records)],
    }
    if traced:
        ref_s, ref_src = overhead_ref
        metrics = layers.per_layer(
            spans=spans, measure_idx=measure_idx,
            batches=[b for r in reps for b in r.get("batches", [])],
            query_names=workloads.CURATION_QUERIES,
            log=tracing.read_event_log(os.path.join(work, "eventlog")),
            stack=stack, peak_rss_mb=procs.peak_mb, cores=cores,
            overhead_frac=e2e["rep_s"] / ref_s - 1.0,
        )
        units = layers.units(workloads.CURATION_QUERIES)
        record["overhead_reference"] = {"rep_s": ref_s, "source": ref_src}
    else:
        metrics = e2e
        units = END_TO_END
    record["result"] = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mongoshake_spark", "__main__.py")):
        print(f"perfbench: no engine under {ROOT} (run from the repository root)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import tracing

    cores = len(os.sched_getaffinity(0))
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    run_id = f"{args.workload}_s{args.seed}_t{args.trace}_{stamp}_{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    health_start = tracing.host_health()
    cwd = os.getcwd()
    try:
        record = measure(args, work, run_id, cores)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    health_end = tracing.host_health()
    ticks = health_end["total_ticks"] - health_start["total_ticks"]
    steal = health_end["steal_ticks"] - health_start["steal_ticks"]
    record.update({
        "run_id": run_id, "workload": args.workload, "trace": args.trace,
        "seed": args.seed, "sf": args.sf, "seconds": args.seconds,
        "finished": time.time(),
        "provenance": provenance(cores, args.sf, args.seed),
        "host": {"start": health_start, "end": health_end,
                 "steal_pct": 100.0 * steal / ticks if ticks else 0.0},
    })
    os.makedirs(RUNS_DIR, exist_ok=True)
    with open(os.path.join(RUNS_DIR, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    result = record["result"]
    print(f"# {run_id}: {len(record['reps'])} repetitions, "
          f"steal {record['host']['steal_pct']:.2f}%, "
          f"loadavg {health_start['loadavg_1m']:.2f} -> {health_end['loadavg_1m']:.2f}")
    for k, m in result["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    t = record["batch_tail_s"]
    print(f"# batch_tail_s {t['value']:.6g} s: p{t['percentile']:.1f} of {t['samples']} steps")
    print(f"# fail_ratio {record['fail_ratio']:.6g} ({result['failed']} of "
          f"{result['attempted']} operations)")
    for r in record["reps"]:
        if not r["ok"]:
            print(f"# failed: {r['detail']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
