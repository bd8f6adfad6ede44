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
that window. The apply kernel plans its batches in a child of its own
the same way (:func:`synced_child`).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter

WIDTH_KEY = "spark.sql.shuffle.partitions"

# caller session -> {width: (child, the caller's conf it was synced to)};
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
    timeout the query is STOPPED and ``TimeoutError`` names ``what`` —
    returning while a batch is still flushing in the background would
    hand the caller torn state and leak a running query."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain within {timeout_sec}s; "
            "stream stopped — re-run to resume from the checkpoint"
        )
    return q.recentProgress


def stream_session(spark: SparkSession, width: int) -> SparkSession:
    """A child of ``spark`` (``spark.newSession()``: the same SparkContext
    and cached data, its own SQL conf) whose conf equals the caller's
    except ``spark.sql.shuffle.partitions = width``.

    One child per (caller, width) is made and reused, so ``load_table``'s
    per-session cache keeps hitting; a call after the caller's conf
    changed re-syncs the child. A StreamingQueryListener only hears
    queries of its own session, so a drain whose listener sits on the
    caller must not move here."""
    with _CHILDREN_LOCK:
        children = _CHILDREN.setdefault(spark, {})
        children[width] = synced_child(
            spark, {WIDTH_KEY: str(width)}, *children.get(width, (None, None))
        )
        return children[width][0]


def synced_child(
    spark: SparkSession,
    overrides: dict[str, str],
    child: SparkSession | None = None,
    synced: object = None,
) -> tuple[SparkSession, object]:
    """``child`` (a new ``spark.newSession()`` when None) with its conf
    made equal to the caller's plus ``overrides``, and the caller's conf
    it now matches. ``synced`` is that conf from the previous call: the
    child is re-synced only when the caller's conf differs from it."""
    # the caller's conf as an immutable JVM map: comparing it there costs
    # two py4j calls, where ``conf.getAll`` costs one per entry (~40 ms)
    snapshot = spark.conf._jconf.getAll()
    if child is None:
        child = spark.newSession()
    if synced is None or not snapshot.equals(synced):
        want = {**spark.conf.getAll, **overrides}
        have = child.conf.getAll
        for key in have.keys() - want.keys():
            child.conf.unset(key)
        for key, value in want.items():
            if have.get(key) != value:
                child.conf.set(key, value)
    return child, snapshot
