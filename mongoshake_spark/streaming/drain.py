"""The bounded stream drain, and the sessions drains plan in.

MongoShake's incremental plane is a bounded tail -> apply -> checkpoint
loop (collector/syncer.go:94-99). Every bounded drain in this package
runs it as ONE ``availableNow`` Structured Streaming query through
:func:`drain`, which owns the trigger, the timeout and error surfacing,
and hands back the query's per-trigger progress (Structured Streaming,
SIGMOD'18: each trigger and its progress report are the engine's unit).

A drain that needs a shuffle width other than the session's plans in a
child session from :func:`stream_session` instead of setting the width
on a session other queries share: queries run concurrently on one
session (bench.py's client pool), and a set-then-restore of
``spark.sql.shuffle.partitions`` there leaks into whatever else plans in
that window. The apply kernel plans its batches in a child from the
same per-caller pool (:func:`child_session`), keyed on its settings, so
all kernels on one caller share one child. This module is the only place
that makes child sessions: the JVM releases a child only once py4j drops
it, so a child per kernel or per call would pile up in a long-lived
process.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter

WIDTH_KEY = "spark.sql.shuffle.partitions"

# caller session -> {overrides: (child, the caller's conf it was synced to)};
# weak on the caller, so a stopped and rebuilt session (a new object)
# never inherits a dead session's children
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILDREN_LOCK = threading.Lock()


def drain(
    writer: DataStreamWriter, what: str, timeout_sec: float = 600
) -> list[dict]:
    """Run ``writer`` (an unstarted, checkpointed stream writer) to the
    current end of its source and return the finished query's
    ``recentProgress``: one dict per trigger, with its ``durationMs``
    phases. A failed query raises through ``awaitTermination``. On
    timeout the query is STOPPED and ``TimeoutError`` names ``what``.

    The timeout bounds the wait, not the stop: ``stop()`` waits for an
    in-flight ``foreachBatch`` call to return, so a batch that hangs
    holds ``drain`` past ``timeout_sec`` until it returns. That limit is
    kept on purpose: returning early would leave the batch flushing
    under the caller, with torn state and a query still running."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain within {timeout_sec}s; "
            "stream stopped — re-run to resume from the checkpoint"
        )
    return q.recentProgress


def stream_session(spark: SparkSession, width: int) -> SparkSession:
    """The pooled child of ``spark`` whose conf equals the caller's
    except ``spark.sql.shuffle.partitions = width``
    (:func:`child_session`). A StreamingQueryListener only hears queries
    of its own session, so a drain whose listener sits on the caller
    must not move here."""
    return child_session(spark, {WIDTH_KEY: str(width)})


def child_session(spark: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """A child of ``spark`` (``spark.newSession()``: the same SparkContext
    and cached data, its own SQL conf) whose conf equals the caller's
    plus ``overrides``.

    One child per (caller, overrides) is made and reused, so
    ``load_table``'s per-session cache keeps hitting; a call after the
    caller's conf changed re-syncs the child."""
    key = tuple(sorted(overrides.items()))
    with _CHILDREN_LOCK:
        children = _CHILDREN.setdefault(spark, {})
        child, synced = children.get(key, (None, None))
        # the caller's conf as an immutable JVM map: comparing it there
        # costs two py4j calls, where ``conf.getAll`` costs one per entry
        # (~40 ms)
        snapshot = spark.conf._jconf.getAll()
        if child is None:
            child = spark.newSession()
        if synced is None or not snapshot.equals(synced):
            want = {**spark.conf.getAll, **overrides}
            have = child.conf.getAll
            for k in have.keys() - want.keys():
                child.conf.unset(k)
            for k, value in want.items():
                if have.get(k) != value:
                    child.conf.set(k, value)
        children[key] = (child, snapshot)
        return child
