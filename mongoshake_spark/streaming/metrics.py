"""A2/B10/A4 — replication metrics, heartbeat, progress.

Reference: common/metric.go + the REST endpoints /repl /queue /worker
(collector/syncer.go:640-734) expose windowed TPS, per-stage counts and
status flags. Spark's native analog is the StreamingQueryListener: every
micro-batch reports rows, duration and state-store metrics; this module
aggregates them into the same shape the reference serves over REST.

Windowed TPS over the data itself (Q23) is a plain groupBy(date_trunc);
this listener covers the *operational* plane (pipeline throughput).
"""

from __future__ import annotations

import threading
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

#: the micro-batch phases (``StreamingQueryProgress.durationMs`` keys,
#: in ms) each /progress entry reports: where a batch's time went
PHASES = (
    "latestOffset",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


@dataclass
class ReplMetrics:
    """The /repl payload equivalent."""

    batches: int = 0
    rows_in: int = 0
    last_rows_per_sec: float = 0.0
    last_batch_ms: float = 0.0
    # bounded: a continuous query appends one entry per trigger for the
    # listener's lifetime — days of 1s triggers would otherwise leak
    # hundreds of thousands of dicts on the driver; the aggregates above
    # carry the totals, this deque keeps only the recent window
    progress: deque = field(default_factory=lambda: deque(maxlen=1024))
    # guards ITERATION of `progress` against the listener thread's
    # appends (scalar field reads are safe unlocked; listing a deque
    # while another thread appends raises "mutated during iteration")
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def recent(self, n: int | None = None) -> list:
        with self.lock:
            items = list(self.progress)
        return items if n is None else items[-n:]

    def snapshot(self) -> dict:
        return {
            "batches": self.batches,
            "rows_in": self.rows_in,
            "rows_per_sec": self.last_rows_per_sec,
            "batch_ms": self.last_batch_ms,
        }


class MetricsListener(StreamingQueryListener):
    """Collects per-batch throughput — attach with
    ``spark.streams.addListener(listener)``; read ``listener.metrics``."""

    def __init__(self) -> None:
        self.metrics = ReplMetrics()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.metrics.batches += 1
        self.metrics.rows_in += p.numInputRows
        self.metrics.last_rows_per_sec = p.processedRowsPerSecond or 0.0
        phases = p.durationMs or {}
        self.metrics.last_batch_ms = phases.get("triggerExecution", 0)
        with self.metrics.lock:
            self.metrics.progress.append({
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": {k: phases[k] for k in PHASES if k in phases},
            })

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach(spark: SparkSession) -> MetricsListener:
    listener = MetricsListener()
    spark.streams.addListener(listener)
    return listener


class MetricsServer:
    """The reference's REST monitoring surface (collector/syncer.go:640-734
    serves /repl, /worker, /progress over net/http): the same three
    endpoints as JSON over ``http.server``, reading a live
    ``MetricsListener`` — an operator watching a 100-TB sync curls the
    port instead of scraping logs.

    - ``/repl``     — the windowed-throughput payload (ReplMetrics.snapshot)
    - ``/worker``   — per-recent-batch rows (the worker-queue analog: on
      Spark the "workers" are executor tasks the scheduler owns, so the
      per-batch feed IS the per-worker view)
    - ``/progress`` — the recent-batch window verbatim, each entry with
      its batch's phase durations (``PHASES``)

    Daemon-threaded and bound to ``127.0.0.1`` (monitoring plane, not a
    public service); ``port=0`` lets the OS pick — read ``.port``.
    Scalar field reads are safe unlocked; the recent-batch window is
    listed through ``ReplMetrics.recent`` (lock shared with the listener
    thread's appends — iterating a deque during an append raises).
    """

    def __init__(self, listener: MetricsListener, port: int = 0) -> None:
        import http.server
        import json as _json
        import threading

        metrics = listener.metrics

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802
                routes = {
                    "/repl": metrics.snapshot,
                    "/worker": lambda: {
                        "batches": metrics.batches,
                        "recent": metrics.recent(16),
                    },
                    "/progress": metrics.recent,
                }
                fn = routes.get(self.path)
                if fn is None:
                    self.send_error(404)
                    return
                body = _json.dumps(fn()).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # quiet monitoring plane
                pass

        self._httpd = http.server.ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def serve(listener: MetricsListener, port: int = 0) -> MetricsServer:
    """Start the REST monitoring surface for an attached listener."""
    return MetricsServer(listener, port=port)


def stat_poll(
    base_url: str,
    interval: float = 1.0,
    count: int | None = None,
    out=print,
    _sleep=None,
    _fetch=None,
    _clock=None,
) -> None:
    """The ``scripts/mongoshake-stat`` analog: poll ``/repl`` every
    ``interval`` seconds and print per-interval throughput deltas (the
    reference tool diffs logs_get/logs_repl counters between polls the
    same way). One line per poll after the first; ``count`` bounds the
    polls (None = until interrupted, like the reference).

    ``base_url`` is ``http://host:port`` of a :class:`MetricsServer`.
    """
    import json as _json
    import time
    import urllib.request

    if interval <= 0:
        raise ValueError("stat_poll: interval must be > 0 seconds")
    fetch = _fetch or (
        lambda: _json.loads(
            urllib.request.urlopen(base_url + "/repl", timeout=5).read()
        )
    )
    sleep = _sleep or time.sleep
    clock = _clock or time.monotonic
    prev = None
    prev_t = None
    n = 0
    while count is None or n < count:
        snap = fetch()
        now = clock()
        if prev is None:
            # print the baseline snapshot so --stat-count 1 shows state
            # instead of exiting silently (rates need a second poll)
            out(
                f"[repl] baseline rows_in={snap['rows_in']} "
                f"batches={snap['batches']} "
                f"engine_rps={snap['rows_per_sec']:.1f} "
                f"batch_ms={snap['batch_ms']:.0f}"
            )
        else:
            # rates over the MEASURED elapsed time — the nominal
            # interval under-counts fetch latency on slow endpoints
            elapsed = max(now - prev_t, 1e-9)
            d_rows = snap["rows_in"] - prev["rows_in"]
            d_batches = snap["batches"] - prev["batches"]
            out(
                f"[repl] rows/s={d_rows / elapsed:.1f} "
                f"batches/s={d_batches / elapsed:.2f} "
                f"rows_in={snap['rows_in']} batches={snap['batches']} "
                f"engine_rps={snap['rows_per_sec']:.1f} "
                f"batch_ms={snap['batch_ms']:.0f}"
            )
        prev, prev_t = snap, now
        n += 1
        if count is None or n < count:
            sleep(interval)
