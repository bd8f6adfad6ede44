"""The benchmark's workloads, each driven through the engine's public
entry points: ``python -m mongoshake_spark`` (called in-process through
``mongoshake_spark.__main__.main``) and the driver surface
``__spark_entry__.queries()``.

A workload stages its inputs and warms up in ``setup``; each call to
``rep`` is one timed repetition that starts from identical state and
checks its own output. Output checks never run inside a timed span.

The two workloads stress different layers and each bypasses the other's:
``oplog_catchup`` spends its time in the streaming apply kernel and never
enters ``functions``; ``curation`` is read-only batch work in
``functions`` and ``plans.queries`` with no stream. A full-sync, verify and
repair sequence does not fit one run's time budget: verifying every table
alone takes about 28 s at sf0.01 on 4 cores.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_DIR = os.path.join(HERE, "golden")

#: fixed input seed of the curation tables: the golden results are
#: computed once over exactly these inputs; the run seed permutes the
#: query order instead
CURATION_DATA_SEED = 20240101

#: the curation pass: the cheapest query of four function families
#: (curation and text, dedup, quantization and similarity, retrieval), so
#: set-up, the warm-up and three timed passes fit one run
CURATION_QUERIES = (
    "pipeline_curation",
    "dedup_minhash",
    "ann_pq_adc",
    "bm25_topk",
)


def run_cli(argv: list[str]) -> tuple[int, str]:
    """One ``python -m mongoshake_spark`` invocation, in-process."""
    from mongoshake_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def normalized(df) -> list[list[str]]:
    """Rows of a pandas frame after the oracle harness's normalization."""
    from tests.oracle_harness import _normalize

    return [list(r) for r in _normalize(df).itertuples(index=False)]


def rows_sha256(df) -> str:
    return hashlib.sha256(json.dumps(normalized(df)).encode()).hexdigest()


def _sql_str(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def tables_sha256(sf_dir: str, names) -> str:
    h = hashlib.sha256()
    for name in sorted(names):
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


class Workload:
    """Per-run state shared by ``setup`` and ``rep``."""

    name = ""

    def __init__(self, spark, work: str, seed: int, sf: float, spans, listener):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf = sf
        self.spans = spans
        self.listener = listener
        self.rng = random.Random(seed)


class OplogCatchup(Workload):
    """Catch up an oplog backlog after a restart.

    Setup writes the replay feed of the seed's ``events`` table and drains
    its first ``PREFIX`` files with ``--sync-mode incr``: that drain is the
    warm-up and the target state every repetition starts from. A
    repetition restores that target and checkpoint, adds the next
    ``WINDOW`` feed files (mtimes kept, so the stream admits them in
    order) and drains them with the same CLI call at its defaults
    (1 file per trigger, 64 buckets).
    """

    name = "oplog_catchup"
    PREFIX = 4
    WINDOW = 3

    def setup(self, args) -> dict:
        from mongoshake_spark.streaming.replay import write_replay_feed

        span = self.spans.open("setup.stage")
        self.src = os.path.join(self.work, "src")
        gen.write_tables(self.src, self.sf, self.seed, names=("events",))
        feed_all = os.path.join(self.work, "feed_all")
        write_replay_feed(self.spark, self.src, feed_all, batch_rows=args.feed_rows)
        files = sorted(glob.glob(os.path.join(feed_all, "*.parquet")))
        if len(files) < self.PREFIX + self.WINDOW:
            raise ValueError(f"feed has {len(files)} files; need at least "
                             f"{self.PREFIX + self.WINDOW}")
        self.prefix = files[:self.PREFIX]
        self.window = files[self.PREFIX:self.PREFIX + self.WINDOW]
        self.window_ops = sum(pq.ParquetFile(f).metadata.num_rows for f in self.window)

        # the checkpoint records absolute feed paths, so the prefix is
        # drained where every repetition runs and then copied aside
        self.live = os.path.join(self.work, "live")
        self.base = os.path.join(self.work, "base")
        self._add_files(os.path.join(self.live, "feed"), self.prefix)
        self.spans.close(span)
        span = self.spans.open("setup.warm_up")
        rc, out = run_cli(self._incr_args(self.live))
        self.spans.close(span)
        if rc != 0:
            raise RuntimeError(f"prefix drain failed (rc={rc}): {out}")
        shutil.copytree(self.live, self.base)
        return {"feed_files": len(files), "prefix_files": len(self.prefix),
                "window_files": len(self.window), "window_ops": self.window_ops}

    @staticmethod
    def _add_files(feed_dir: str, files) -> None:
        os.makedirs(feed_dir, exist_ok=True)
        for f in files:
            shutil.copy2(f, os.path.join(feed_dir, os.path.basename(f)))

    def _incr_args(self, root: str) -> list[str]:
        return [
            "--sync-mode", "incr", "--source-dir", self.src,
            "--target-dir", os.path.join(root, "target"),
            "--feed-dir", os.path.join(root, "feed"),
            "--checkpoint-dir", os.path.join(root, "checkpoint"),
        ]

    def rep(self) -> dict:
        shutil.rmtree(self.live)
        shutil.copytree(self.base, self.live)
        self._add_files(os.path.join(self.live, "feed"), self.window)
        n_before = len(self.listener.progress)

        span = self.spans.open("oplog_catchup.incr")
        try:
            rc, out = run_cli(self._incr_args(self.live))
        except Exception as exc:  # counted as a failed operation
            rc, out = -1, f"{type(exc).__name__}: {exc}"[:300]
        wall = self.spans.close(span)

        self.listener.settle(n_before, expected=len(self.window))
        batches = self.listener.progress[n_before:]
        ok, detail = (rc == 0), f"rc={rc} {out}"
        if ok:
            ok, detail = self._check()
        return {
            "wall_s": wall, "ops": self.window_ops, "ok": ok, "detail": detail,
            "steps_s": [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches],
            "attempted": 1, "failed": int(not ok), "batches": batches,
        }

    def _check(self) -> tuple[bool, str]:
        """Final target state (non-tombstone rows) equals the DuckDB oracle
        of ``q13_cdc_materialize`` over the prefix and window files."""
        import __spark_entry__

        events = _sql_str(os.path.join(self.src, "events.parquet"))
        feed = ", ".join(map(_sql_str, self.prefix + self.window))
        con = duckdb.connect()
        try:
            # the oracle reads `events`: restrict it to the rows fed so far
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet({events}) "
                f"WHERE event_id IN (SELECT id FROM read_parquet([{feed}]))"
            )
            want = con.execute(__spark_entry__.oracle_sql()["q13_cdc_materialize"]).fetchdf()
            got = con.execute(
                "SELECT user_id, value FROM read_parquet(?, hive_partitioning = true) "
                "WHERE op <> 'd'",
                [os.path.join(self.live, "target", "_bucket=*", "*.parquet")],
            ).fetchdf()
        finally:
            con.close()
        if normalized(got) == normalized(want):
            return True, f"{len(want)} keys match"
        return False, f"target has {len(got)} live keys, oracle {len(want)}"


class Curation(Workload):
    """One serial pass over ``CURATION_QUERIES`` in a seed-permuted order,
    each called as ``queries()[name](spark, sf_dir)`` and forced with
    ``collect()``; every result is compared with its golden result."""

    name = "curation"

    def setup(self, args) -> dict:
        import __spark_entry__

        span = self.spans.open("setup.stage")
        self.src = os.path.join(self.work, "src")
        gen.write_tables(self.src, self.sf, CURATION_DATA_SEED)
        # the inputs are immutable for the run, like the fixture root
        os.environ["SPARK_GRAFT_CACHE_ROOTS"] = self.src + os.sep
        self.queries = __spark_entry__.queries()
        self.golden = {}
        for name in CURATION_QUERIES:
            with open(os.path.join(args.golden_dir, f"{name}.json")) as fh:
                self.golden[name] = json.load(fh)
        self.spans.close(span)
        span = self.spans.open("setup.warm_up")
        # warm-up, untimed: one round with the queries running concurrently,
        # as the engine's FAIR-scheduled session allows, pays the cold costs
        # in parallel; one serial pass then warms the path the timed passes take
        with ThreadPoolExecutor(len(CURATION_QUERIES)) as pool:
            futures = {n: pool.submit(self._collect, n) for n in CURATION_QUERIES}
        failed = 0
        for name, fut in futures.items():
            try:
                ok = self._check(name, *fut.result())[0]
            except Exception:  # counted as a failed operation
                ok = False
            failed += not ok
        serial = self.rep()
        self.spans.close(span)
        return {"warm_up_attempted": len(futures) + serial["attempted"],
                "warm_up_failed": failed + serial["failed"],
                "queries": list(CURATION_QUERIES)}

    def _collect(self, name: str):
        df = self.queries[name](self.spark, self.src)
        return df.columns, df.collect()

    def rep(self) -> dict:
        order = list(CURATION_QUERIES)
        self.rng.shuffle(order)
        results, bad = {}, []
        span = self.spans.open("curation.pass")
        for name in order:
            q = self.spans.open(f"plans.queries.{name}")
            try:
                results[name] = self._collect(name)
            except Exception as exc:  # a failing query counts, the pass goes on
                bad.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            self.spans.close(q)
        wall = self.spans.close(span)
        for name, (columns, rows) in results.items():
            ok, detail = self._check(name, columns, rows)
            if not ok:
                bad.append(f"{name}: {detail}")
        # the pass is this workload's batch: per-query walls differ by
        # query, so their percentiles would only reflect the query mix
        return {
            "wall_s": wall, "ops": len(order), "ok": not bad,
            "detail": "; ".join(bad) or "all match", "steps_s": [wall],
            "attempted": len(order), "failed": len(bad),
        }

    def _check(self, name: str, columns, rows) -> tuple[bool, str]:
        import pandas as pd

        g = self.golden[name]
        if g["inputs_sha256"] != tables_sha256(self.src, g["tables"]):
            return False, "inputs differ from the ones the golden result was made from"
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        if sorted(got.columns) != g["columns"]:
            return False, f"columns {sorted(got.columns)} != {g['columns']}"
        if len(got) != g["n_rows"] or rows_sha256(got) != g["rows_sha256"]:
            return False, f"{len(got)} rows differ from the golden {g['n_rows']}"
        return True, "match"


WORKLOADS = {w.name: w for w in (OplogCatchup, Curation)}
