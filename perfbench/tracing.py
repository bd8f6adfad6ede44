"""Measurement plumbing: spans, the stream listener, samplers and the
Spark event log, all observed from outside the engine.

Nothing here imports the engine. The per-layer metrics come from:

- ``Spans``: the runner's own (name, start, end, parent, run_id) records
  around each public call, kept in memory and written out at exit;
- ``ProgressListener``: Structured Streaming's per-trigger progress
  events (``durationMs`` phases, input rows);
- ``StackSampler``: PySpark records no Python call site for DataFrame
  actions, so a sampler thread notes the innermost ``mongoshake_spark/``
  frame of every driver thread; a job is attributed to the module that
  was on the stack while the job ran;
- ``ProcSampler``: resident memory of this process and its descendants
  (the driver JVM and the Python workers), from ``/proc``;
- ``read_event_log``: jobs, stages and task metrics from the JSON event
  log Spark writes when the launch config turns it on.
"""

from __future__ import annotations

import collections
import json
import os
import re
import statistics
import sys
import threading
import time

_SITE = re.compile(r"mongoshake_spark/(\w+)/(\w+)\.py$")


class Spans:
    """In-memory span store. Times are epoch seconds, the clock the Spark
    event log uses (in ms), so jobs can be matched to spans."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.records.append({
            "name": name, "start": time.time(), "end": None,
            "parent": parent, "run_id": self.run_id,
        })
        self._stack.append(len(self.records) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> float:
        rec = self.records[idx]
        rec["end"] = time.time()
        self._stack.remove(idx)
        return rec["end"] - rec["start"]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        rec = self.records[idx]
        kids = [(r["start"], r["end"]) for r in self.records
                if r["parent"] == idx and r["end"]]
        return (rec["end"] - rec["start"]) - union_length(kids)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event with data.
    Built lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = False
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            if p.get("numInputRows", 0) > 0:
                with self._lock:
                    self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated = True

        def settle(self, n_before: int, expected: int, timeout: float = 10.0) -> None:
            """Events arrive on an async bus: wait until ``expected`` progress
            events past ``n_before`` and a termination have been seen."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self.terminated and len(self.progress) >= n_before + expected:
                        break
                time.sleep(0.05)
            with self._lock:
                self.terminated = False

    return ProgressListener()


class _Sampler:
    """Base for the daemon sampling threads; ``stop`` joins the thread."""

    interval = 0.01

    def __init__(self):
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._halt.wait(self.interval):
            self.sample()


class StackSampler(_Sampler):
    """Innermost engine frame of each driver thread, every 10 ms."""

    def __init__(self):
        super().__init__()
        self.samples: list[tuple[float, str]] = []

    def sample(self) -> None:
        now = time.time()
        me = threading.get_ident()
        for tid, frame in sys._current_frames().items():
            if tid == me:
                continue
            while frame is not None:
                m = _SITE.search(frame.f_code.co_filename.replace(os.sep, "/"))
                if m:
                    self.samples.append((now, f"{m.group(1)}.{m.group(2)}"))
                    break
                frame = frame.f_back

    def module_between(self, start: float, end: float) -> str | None:
        hits = [m for t, m in self.samples if start <= t <= end]
        return collections.Counter(hits).most_common(1)[0][0] if hits else None


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_pids() -> list[int]:
    """This process and every process it started, transitively."""
    return [os.getpid()] + _descendants(os.getpid())


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcSampler(_Sampler):
    """Peak summed RSS of this process tree, every 0.25 s."""

    interval = 0.25

    def __init__(self):
        super().__init__()
        self.peak_mb = 0.0

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in tree_pids()))


def host_health() -> dict:
    """Steal ticks, total ticks and 1-minute loadavg; two readings give the
    host's steal percentage over the run."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        vals = []
    return {
        "steal_ticks": vals[7] if len(vals) > 7 else 0,
        "total_ticks": sum(vals),
        "loadavg_1m": os.getloadavg()[0],
    }


# -- event log ----------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from the single uncompressed event log file under
    ``log_dir``. Times are converted to epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev["Stage IDs"],
                        "batch": props.get("streaming.sql.batchId"),
                        "query": props.get("sql.streaming.queryId"),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["tasks"] = info["Number of Tasks"]
                    st["start"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], _new_stage()), ev)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "tasks": 0, "start": 0.0, "end": 0.0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "input_bytes": 0, "input_records": 0, "output_bytes": 0,
        "shuffle_write_bytes": 0, "failed_tasks": 0, "task_spans": [],
    }


def _add_task(st: dict, ev: dict) -> None:
    info = ev["Task Info"]
    if info.get("Failed") or info.get("Killed"):
        st["failed_tasks"] += 1
    st["task_spans"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    m = ev.get("Task Metrics") or {}
    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)


def jobs_within(log: dict, windows) -> list[dict]:
    """Jobs whose submission falls inside any (start, end) window."""
    return [j for j in log["jobs"].values() if j["end"] is not None
            and any(s <= j["start"] <= e for s, e in windows)]


def job_stages(log: dict, jobs) -> list[dict]:
    seen, out = set(), []
    for j in jobs:
        for sid in j["stages"]:
            if sid in log["stages"] and sid not in seen:
                seen.add(sid)
                out.append(log["stages"][sid])
    return out


def stage_sum(stages, key: str) -> float:
    return sum(s[key] for s in stages)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
