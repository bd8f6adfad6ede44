"""The foreachBatch apply kernel — the incremental-sync *sink* (S7 + W2-W7
+ B2 DDL barriers), the one genuinely custom piece of the engine
(SURVEY §4: "the two genuinely custom pieces are a CDC source and the
foreachBatch apply kernel").

Reference semantics being reproduced:
- batcher (collector/batcher.go:280-397): a batch is split at every DDL
  row; segments apply in order — segment k, then DDL k (alone, as a
  barrier), then segment k+1. The barrier blocks until applied
  (checkCheckpointUpdate, syncer.go:372-410) — foreachBatch is
  synchronous per micro-batch, so ordering the statements inside the
  callback IS the barrier.
- apply ladder (executor/db_writer_bulk.go): insert/update/delete with
  dup-key remediation — collapsed into the idempotent last-writer-wins
  MERGE (operators/merge.py). Replays are safe (at-least-once + idempotent
  apply is the reference's own argument, README.md:57).
- conflict recorder (W7, executor/duplicate.go): rows that cannot be
  applied (unknown op codes, NULL key columns, commands without a ns)
  append to a dead-letter table instead of failing the stream.
- checkpoint (S13, collector/ckpt/): delegated to Structured Streaming's
  checkpointLocation (offset+commit logs). Resume = restart the query with
  the same location.

One apply per micro-batch: the batch's CRUD rows fold into the state in
ONE MERGE, and its DDL rows are journaled (and executed, with a
``ddl_executor``) in global ``(ts, id)`` order before that MERGE commits.
This reaches the same final state as the batcher's segment/barrier
interleaving: last-writer-wins by a globally monotone ordinal is
associative over ordered segments — merge(merge(T,S1),S2) ==
merge(T, S1 ∪ S2) — and the DDL log sequence is the same. The barrier
statements act on the session catalog (streaming/ddl.SparkCatalogDDL),
never on the kernel's state, so no DDL can observe a half-applied batch.
A batch's Spark job count is therefore independent of its DDL count.

Scale notes: the target state lives ON DISK between micro-batches, in a
parquet layout HASH-BUCKETED on the merge key (``_bucket = pmod(hash(*key),
n_buckets)`` partition column). The key is one column (``user_id``) or a
tuple of columns: the multi-namespace path (streaming/multi.py) keys one
kernel on ``(ns, user_id)``, so every namespace of a batch folds in the
same MERGE. Each micro-batch:

1. runs ONE census, a single aggregate returning the touched buckets,
   the max ordinal, the W7 bad-row count and the DDL rows,
2. reads ONLY the touched buckets' files back, with the schema of their
   footers (untouched buckets are never opened; Spark infers nothing,
   and the driver lists the files: the kernel's session raises Spark's
   parallel-listing threshold above the slice),
3. MERGEs the batch into that slice in ONE fold: the slice and the
   batch's CRUD rows are unioned, hash-partitioned on ``_bucket`` across
   the task slots and folded by ``operators/merge.merge_upsert``; the
   tombstones the watermark has passed are dropped,
4. writes the result with ``partitionBy("_bucket")`` into a staging dir
   under the target, one file per touched bucket, and
5. swaps each touched ``_bucket=k`` dir with its staged copy on the
   driver: the live dir is first moved aside, then the staged one is
   renamed in (a bucket whose rows all compacted away just loses its
   dir). A crash between any two renames leaves each bucket live or set
   aside, never lost: on open and before each flush, a set-aside bucket
   whose live dir is missing is restored and the staging area is
   cleared. The replayed batch then re-MERGEs over old and new buckets
   alike to the same state, since last-writer-wins by ordinal holds per
   bucket.

Per-batch I/O — read AND write — therefore scales with the batch's key
spread, not the state size; the reference's apply layer is incremental for
the same reason (executor/db_writer_bulk.go writes only the batch's
documents). The slice is re-read from disk every batch, so the plan never
deepens across batches; the write lands beside the files it replaces,
not on them, so it needs no checkpoint.

The kernel plans steps 1-4 in a session of its own, made once per
kernel: a ``newSession()`` child of the caller (the same SparkContext
and cache, its own SQL conf), kept in sync with the caller's conf the
way ``streaming/drain.stream_session`` keeps its children, with AQE off,
``spark.sql.shuffle.partitions`` at the default parallelism and the
driver-listing threshold of ``session.get_spark``. The persisted batch
enters it through a global temp view named per kernel. A batch then runs
two Spark jobs, the census and the fold with its write (five at AQE on:
a cache stage, and each shuffle split off into a job of its own), and
the stream itself stays on the caller's session, where its listeners
hear it; ``state_view`` reads there too. The batch's Column expressions
are built once per bucket count (``_exprs``), not per batch: under
PySpark's call-site capture each Column call is several py4j round
trips, and a batch made 646 of them when it rebuilt its expressions; it
now makes ~100.

The bucket count follows the state's row count: a batch's fixed cost
grows with the buckets it touches (a footer, a file read, a file written
and two renames each, ~5 ms a file), so a fixed large count costs small
states dearly. With no ``n_buckets`` given, a new parquet state starts
at ONE bucket; once a flush leaves a bucket above ``ROWS_PER_BUCKET``
rows (read from the staged files' footers, no Spark job), the count
doubles until that bucket's share fits. ``pmod(hash, 2n)`` splits each
bucket in two, so all growth rewrites together cost O(final state). The
count only grows, and the one persisted in the ``_layout.json`` marker
is authoritative on reopen. A given ``n_buckets`` pins the count
instead: a legacy flat ``*.parquet`` layout or a bucket-count mismatch
triggers a ONE-TIME re-bucketing rewrite on open.

Growth and migration run the same rebucket (``_rebucket``): the rewrite
and its marker are staged into a sibling ``.__rebucket__`` dir, the live
state moves to ``.__old__`` and the rewrite is renamed in. Every open
(``_recover_rebucket``) restores ``.__old__`` when the state dir is
missing, or else carries its side tables (the multi-namespace kernel's
``_dead_letter``) over before dropping it, so no crash point loses a
committed row. A state dir whose subdirectories hold their own
``_layout.json`` (the retired one-kernel-per-namespace layout) is refused
at open. On a real cluster the state table is Delta and the fold is a
single ``MERGE INTO`` (``_apply_delta``); Delta keeps a fixed count
(``DELTA_BUCKETS`` when none is given) and refuses a reopen with another.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass, field
from functools import reduce
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from mongoshake_spark.operators import merge
from mongoshake_spark.session import LISTING_KEY, LISTING_THRESHOLD
from mongoshake_spark.streaming.drain import WIDTH_KEY, drain, synced_child

TARGET_SCHEMA = "user_id bigint, value double, id bigint"

#: a flush's staged buckets and the live buckets it set aside, both under
#: the state dir; the leading underscore (and no "=") keeps them out of
#: Spark's file index, like _SUCCESS
STAGING_DIR = "_staging"
ASIDE_DIR = "_aside"

#: the bucket count of a Delta state opened without one
DELTA_BUCKETS = 64

#: a rule-sized parquet state doubles its bucket count once a flushed
#: bucket holds more rows than this. Per-batch medians on 4 cores (4
#: rounds; seconds at 8 / 16 / 32 / 64 / 256 buckets): 1,024-key batches
#: over 10k keys 0.64 / 0.75 / 0.80 / 1.09 / 2.14, over 200k keys
#: 0.96 / 1.05 / 1.10 / 1.39 / 2.40; 32-key batches over 200k keys
#: (scripts/scale_proof.py's shape) 0.98 / 0.96 / 0.98 / 0.95 / 0.80.
#: Dense batches touch every bucket, so each bucket is pure file cost;
#: sparse ones read less per extra bucket. 2**13 gives 200k keys 32.
ROWS_PER_BUCKET = 1 << 13


class _Exprs(NamedTuple):
    """A batch's Column expressions at one bucket count."""

    bucket: Column  # pmod(hash(*key), n_buckets)
    crud: Column  # a CRUD row with its key columns and ordinal set
    bad: Column  # a row no path applies (W7)
    census: tuple[Column, ...]  # the census's group key, then aggregates


@dataclass
class ApplyKernel:
    """Folds CDC micro-batches into a target table (see module docstring)."""

    spark: SparkSession
    target_dir: str
    dead_letter_dir: str | None = None
    journal_dir: str | None = None
    # merge key: one column, or a tuple of columns (a composite key)
    key: str | tuple[str, ...] = "user_id"
    val: str = "value"
    ord: str = "id"
    # None: the parquet plane sizes the count by the rule (module
    # docstring), Delta takes DELTA_BUCKETS; a count pins it
    n_buckets: int | None = None
    # State-plane format. "parquet" (default) is the self-contained local
    # form: bucket-pruned slice reads + a staged per-bucket swap.
    # "delta" is the 100 TB production form (DEPLOYMENT.md): the same
    # per-batch fold lands as a transactional Delta MERGE INTO keyed on
    # (_bucket, key) — partition-pruned by the bucket equi-term, ACID
    # commit per batch, tombstone compaction as a partition-scoped
    # DELETE. Requires the delta-spark package and a session built with
    # its extensions (configure_spark_with_delta_pip); availability-gated
    # at construction so a missing package fails loudly, not mid-stream.
    state_format: str = "parquet"
    # W6: optional catalog-backed DDL executor (streaming/ddl.SparkCatalogDDL).
    # None keeps the record-only behavior (no catalog to mutate in oracle
    # fixtures); with an executor, each barrier statement really runs.
    ddl_executor: object | None = None
    # S7 production form: optional live-target mirror, called AFTER each
    # batch's flush commits with the batch's NET per-key ops
    # ``(key, value, op)`` (op='d' = delete, else upsert) and the batch
    # id. sources/live.mongo_ops_mirror builds one for a real MongoDB
    # target (executor/db_writer.go:49-59); the parquet state stays the
    # resumable source of truth either way. A mirror failure raises out
    # of foreachBatch, so the stream retries the batch — mirrors must be
    # idempotent (replace/delete by id is).
    mirror: object | None = None
    ddl_log: list[tuple] = field(default_factory=list)
    _layout_checked: bool = field(default=False, repr=False)
    # True when n_buckets follows the state (parquet, no count given)
    _sized: bool = field(default=False, init=False, repr=False)
    # Low watermark for tombstone compaction: max ordinal across batches
    # whose flush has committed. Replay (at-least-once) re-delivers only
    # the uncommitted batch, whose ordinals are all above this, so op='d'
    # rows at ordinal <= watermark can never be consulted again and are
    # dropped at the next flush that touches their bucket (lazy, per-
    # bucket). Persisted in _layout.json; lost-marker fallback is None =
    # compact nothing, which is merely conservative.
    _watermark: int | None = field(default=None, repr=False)
    # Instrumentation, refreshed per batch: how many state parquet files the
    # partition-pruned slice read covered, and how many rows it held (from
    # the files' parquet footers, so neither costs a Spark job). The scale
    # contract (per-batch input ∝ batch, not state) is asserted on these in
    # tests/test_streaming.py.
    last_state_files_read: int = field(default=0, repr=False)
    last_state_rows_read: int = field(default=0, repr=False)
    # the session the kernel plans in, what it sets over the caller's
    # conf, the caller's conf it was synced to, and the (database, name)
    # of the global temp view a batch enters it through
    _session: SparkSession | None = field(default=None, init=False, repr=False)
    _settings: dict[str, str] = field(default_factory=dict, init=False, repr=False)
    _synced: object = field(default=None, init=False, repr=False)
    _view: tuple[str, str] = field(default=("", ""), init=False, repr=False)
    # _Exprs and the bucket count they were built for
    _built: tuple[int, _Exprs] | None = field(
        default=None, init=False, repr=False
    )

    def __post_init__(self) -> None:
        if self.state_format not in ("parquet", "delta"):
            raise ValueError(
                f"state_format must be 'parquet' or 'delta', "
                f"got {self.state_format!r}"
            )
        if self.state_format == "delta":
            try:
                from delta.tables import DeltaTable  # noqa: F401
            except ImportError as exc:
                raise RuntimeError(
                    "state_format='delta' requires the delta-spark package "
                    "(pip install delta-spark) and a SparkSession built with "
                    "its extensions (delta.pip_utils."
                    "configure_spark_with_delta_pip)"
                ) from exc
        # the kernel's session: AQE off runs a batch in two jobs (the
        # census; the fold and its write) instead of five, at the width
        # AQE would coalesce to, one partition per task slot (AQE off at
        # a 32-wide shuffle took a fold-and-write 0.22 -> 0.61 s). The
        # listing threshold keeps a slice read on the driver whatever
        # the caller's session says.
        self._settings = {
            "spark.sql.adaptive.enabled": "false",
            WIDTH_KEY: str(self.spark.sparkContext.defaultParallelism),
            LISTING_KEY: LISTING_THRESHOLD,
        }
        self._plan_session()
        self._view = (
            self.spark.conf.get("spark.sql.globalTempDatabase"),
            f"apply_batch_{uuid.uuid4().hex}",
        )
        self._sized = self.n_buckets is None and not self._is_delta
        if self.n_buckets is None:
            self.n_buckets = DELTA_BUCKETS if self._is_delta else 1
        if os.path.isdir(self.target_dir):
            nested = sorted(
                d for d in os.listdir(self.target_dir)
                if os.path.isfile(os.path.join(self.target_dir, d, "_layout.json"))
            )
            if nested:
                # the per-namespace multi-ns layout (one kernel state dir
                # per sanitized ns) holds no ns column, and a sanitized dir
                # name cannot be mapped back to its namespace: no exact
                # migration exists, so refuse rather than write beside it
                raise RuntimeError(
                    f"{self.target_dir} holds per-namespace kernel state "
                    f"({len(nested)} subdirectories with their own "
                    f"_layout.json, e.g. {nested[0]}); that layout is no "
                    "longer read and cannot be migrated exactly — start "
                    "from a fresh checkpoint and an empty target directory"
                )

    @property
    def _keys(self) -> tuple[str, ...]:
        return (self.key,) if isinstance(self.key, str) else tuple(self.key)

    @property
    def _is_delta(self) -> bool:
        return self.state_format == "delta"

    def _delta_table(self):
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(self._session, self.target_dir):
            return DeltaTable.forPath(self._session, self.target_dir)
        return None

    # -- the kernel's session -------------------------------------------------

    def _plan_session(self) -> SparkSession:
        """The kernel's session, re-synced if the caller's conf changed."""
        self._session, self._synced = synced_child(
            self.spark, self._settings, self._session, self._synced
        )
        return self._session

    def _exprs(self) -> _Exprs:
        """The batch's Column expressions, built once per bucket count:
        under PySpark's call-site capture each Column call costs several
        py4j round trips, ~550 of a batch's 646 when rebuilt per batch."""
        if self._built is None or self._built[0] != self.n_buckets:
            # W7: rows which cannot be applied reach the dead-letter
            # table — an unknown or NULL op, a CRUD row with a NULL key
            # column or a NULL ordinal (nothing to merge on or to order
            # by), a command with a NULL ns (no namespace to run on).
            # coalesce makes the test null-safe: a plain filter on a NULL
            # predicate would silently DROP the row from every path
            # (not quarantined, not applied)
            op = F.col("op")
            keyed = reduce(
                lambda a, b: a & b,
                [F.col(c).isNotNull() for c in (*self._keys, self.ord)],
            )
            crud = op.isin("i", "u", "d") & keyed
            ddl = (op == "c") & F.col("ns").isNotNull()
            bad = ~F.coalesce(crud | ddl | (op == "n"), F.lit(False))
            bucket = F.pmod(
                F.hash(*[F.col(k) for k in self._keys]), F.lit(self.n_buckets)
            )
            # the census: one aggregate, one row per touched bucket with
            # its max ordinal (the next watermark candidate), plus one
            # row (_b NULL) carrying the DDL rows and the bad-row count
            census = (
                F.when(crud, bucket).alias("_b"),
                F.max(self.ord).alias("_m"),
                F.count_if(bad).alias("_bad"),
                F.collect_list(
                    F.when(ddl, F.struct("id", "ts", "ns", "o"))
                ).alias("_ddl"),
            )
            self._built = (self.n_buckets, _Exprs(bucket, crud, bad, census))
        return self._built[1]

    # -- target state -------------------------------------------------------

    def _bucket_expr(self) -> Column:
        return self._exprs().bucket

    def _marker_path(self, root: str | None = None) -> str:
        # leading underscore: invisible to Spark's file index, like _SUCCESS
        return os.path.join(root or self.target_dir, "_layout.json")

    def _read_marker(self) -> dict:
        """``_layout.json``, or ``{}`` when missing or torn (a legacy
        writer's crash): the unknown bucket count then rebuckets once, and
        no watermark compacts nothing, which is merely conservative."""
        try:
            with open(self._marker_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _write_marker(self, root: str | None = None) -> None:
        # atomic: the marker rewrites after EVERY flush, so an in-place
        # truncate+write would leave a corrupt file under a crash mid-dump
        # and poison every subsequent open; write-then-rename leaves either
        # the old or the new marker, never a torn one.
        path = self._marker_path(root)
        with open(path + ".tmp", "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "watermark": self._watermark}, f
            )
        os.replace(path + ".tmp", path)

    def _bucket_dirs(self) -> list[str]:
        if not os.path.isdir(self.target_dir):
            return []
        return [f for f in os.listdir(self.target_dir) if f.startswith("_bucket=")]

    def _ensure_layout(self) -> None:
        """Layout guard, run before each batch and each state read; it
        acts once per kernel, and again after a cut rebucket. A cut
        rebucket is recovered first (``_recover_rebucket``), then the
        marker is read: a rule-sized kernel adopts its bucket count, and
        a legacy flat ``*.parquet`` layout, or a bucketed layout whose
        count disagrees with this kernel's, is re-bucketed ONCE. Without
        this, the first bucketed flush into a flat dir would leave the
        flat files beside the new ``_bucket=`` dirs (conflicting
        structures / double-counted rows), and resuming with a different
        n_buckets would scatter keys across two generations of buckets —
        silent duplicates. A flush cut mid-swap is recovered too
        (``_recover_swap``).
        """
        if self._layout_checked:
            return
        self._layout_checked = True
        self._recover_rebucket()
        if not os.path.isdir(self.target_dir):
            return
        self._recover_swap()
        entries = os.listdir(self.target_dir)
        doc = self._read_marker()
        marker = doc.get("n_buckets")
        if self._watermark is None:
            self._watermark = doc.get("watermark")
        if self._is_delta:
            # an EXISTING non-delta state dir must refuse loudly: the
            # first delta batch write is mode("overwrite") on an
            # is-not-yet-DeltaTable path, which would replace the whole
            # accumulated parquet state with one batch's net rows
            has_parquet_state = any(
                e.startswith("_bucket=") or e.endswith(".parquet")
                for e in entries
            )
            if has_parquet_state and "_delta_log" not in entries:
                raise RuntimeError(
                    f"{self.target_dir} holds parquet-format kernel state "
                    "but state_format='delta' was requested; reopen with "
                    "state_format='parquet' (or migrate explicitly) — a "
                    "delta write here would overwrite the accumulated "
                    "state"
                )
            # Delta owns its file layout (no rebucket migration to run);
            # the marker carries the compaction watermark AND the bucket
            # count, which Delta's own log does not know about — the
            # MERGE condition includes `t._bucket = s._bucket`, so
            # reopening with a different n_buckets would hash keys into
            # different buckets, miss every match and silently DUPLICATE
            # keys (the same hazard the parquet path migrates away from;
            # for delta we refuse loudly instead of rewriting the table)
            if marker is not None and marker != self.n_buckets:
                raise RuntimeError(
                    f"delta state at {self.target_dir} was written with "
                    f"n_buckets={marker}; reopening with "
                    f"n_buckets={self.n_buckets} would merge on "
                    "mismatched _bucket values and silently duplicate "
                    "keys — reopen with the original bucket count"
                )
            return
        if self._sized and marker is not None:
            self.n_buckets = marker  # authoritative; the rule only grows it
        flat = any(f.endswith(".parquet") for f in entries)
        bucketed = any(f.startswith("_bucket=") for f in entries)
        if flat or (bucketed and marker != self.n_buckets):
            # a rule-sized state with no count on record starts over at
            # the current count; the next flush grows it
            self._rebucket(self.n_buckets)

    def _rebucket(self, n_buckets: int) -> None:
        """Rewrite the whole state (flat legacy files and bucket dirs)
        into ``n_buckets`` buckets: the rewrite and its marker are staged
        into a sibling dir, then swapped in by two renames (state aside,
        rewrite in). Until the swap is through, the kernel counts as
        unchecked, so after a cut the next ``_ensure_layout`` recovers
        the state and re-reads the count on record."""
        self._layout_checked = False
        self.n_buckets = n_buckets
        entries = os.listdir(self.target_dir)
        flat = [f for f in entries if f.endswith(".parquet")]
        bucketed = [f for f in entries if f.startswith("_bucket=")]
        parts = []
        if flat:
            parts.append(
                self._session.read.parquet(
                    *[os.path.join(self.target_dir, f) for f in flat]
                )
            )
        if bucketed:
            parts.append(
                self._session.read.option("basePath", self.target_dir)
                .parquet(*[os.path.join(self.target_dir, b) for b in bucketed])
                .drop("_bucket")
            )
        tmp, old = self._rebucket_dirs()
        (
            reduce(DataFrame.unionByName, parts)
            .withColumn("_bucket", self._bucket_expr())
            .repartition(self.spark.sparkContext.defaultParallelism, "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(tmp)
        )
        self._write_marker(tmp)
        os.rename(self.target_dir, old)
        os.rename(tmp, self.target_dir)
        self._recover_rebucket()
        self._layout_checked = True

    def _rebucket_dirs(self) -> tuple[str, str]:
        """A rebucket's staged rewrite and the state it set aside."""
        root = self.target_dir.rstrip("/")
        return root + ".__rebucket__", root + ".__old__"

    def _recover_rebucket(self) -> None:
        """Finish or undo a rebucket cut at any point. With the state dir
        missing, the set-aside state is restored (the rewrite is a pure
        re-layout, so the old state is as committed as the new). With
        both present, the swap went through: the side tables kept under
        the state dir (the multi-namespace kernel's default
        ``_dead_letter``) are not state and move over before the
        set-aside dir is dropped. A staged rewrite left behind is debris
        either way."""
        tmp, old = self._rebucket_dirs()
        if os.path.isdir(old) and not os.path.isdir(self.target_dir):
            os.rename(old, self.target_dir)
        elif os.path.isdir(old):
            for e in os.listdir(old):
                side = os.path.join(self.target_dir, e)
                if e.startswith("_") and not e.startswith(
                    ("_bucket=", "_SUCCESS", "_layout.json")
                ) and not os.path.exists(side):
                    os.rename(os.path.join(old, e), side)
            shutil.rmtree(old)
        shutil.rmtree(tmp, ignore_errors=True)

    def _read_slice(self, touched: list[int]) -> tuple[DataFrame | None, list]:
        """The committed rows of the ``touched`` buckets, and the parquet
        footers of the files that hold them. The driver lists the touched
        ``_bucket=`` dirs itself and hands Spark the files with the schema
        of their first footer, so untouched buckets are never opened and
        Spark infers nothing. The slice is None while no touched bucket
        holds a file."""
        files = [
            os.path.join(self.target_dir, d, f)
            for d in self._bucket_dirs()
            if int(d.split("=", 1)[1]) in touched
            for f in os.listdir(os.path.join(self.target_dir, d))
            if f.endswith(".parquet")
        ]
        footers = [pq.read_metadata(f) for f in files]
        if not files:
            return None, footers
        schema = from_arrow_schema(footers[0].schema.to_arrow_schema())
        return self._session.read.schema(schema).parquet(*files), footers

    def _apply_parquet(self, crud: DataFrame, touched: list[int]) -> int:
        """The batch's one MERGE on the parquet plane (steps 2-5 of the
        module docstring): one ``_bucket`` shuffle, one write. The slice
        read covers ONLY the touched buckets' files and the swap replaces
        only those buckets, so state I/O per batch is O(touched buckets),
        not O(state). Returns the rows of the largest flushed bucket, from
        the staged footers, on a rule-sized kernel (else 0)."""
        self._recover_swap()
        state, footers = self._read_slice(touched)
        self.last_state_files_read = len(footers)
        self.last_state_rows_read = sum(m.num_rows for m in footers)
        bucket = self._bucket_expr()
        out = merge.merge_upsert(
            None if state is None else state.withColumn("_bucket", bucket),
            crud.withColumn("_bucket", bucket),
            (*self._keys, "_bucket"), self.val, self.ord,
            partition_by="_bucket",
        )
        if self._watermark is not None:
            # lazy tombstone compaction: this batch rewrites the touched
            # buckets anyway, so dead tombstones in them are dropped for
            # free (see operators/merge.compact for the safety argument)
            out = merge.compact(out, self._watermark, ord_col=self.ord)
        staging = os.path.join(self.target_dir, STAGING_DIR)
        aside = os.path.join(self.target_dir, ASIDE_DIR)
        out.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
        largest = max(
            sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in files if f.endswith(".parquet")
            )
            for d, _, files in os.walk(staging)
        ) if self._sized else 0
        # the live dir moves aside before its staged copy comes in, so no
        # crash point loses a bucket (_recover_swap puts it back)
        os.makedirs(aside)
        for name in (f"_bucket={b}" for b in touched):
            live = os.path.join(self.target_dir, name)
            if os.path.isdir(live):
                os.rename(live, os.path.join(aside, name))
            # no staged copy: every merged row of the bucket compacted away
            if os.path.isdir(os.path.join(staging, name)):
                os.rename(os.path.join(staging, name), live)
        shutil.rmtree(aside)
        shutil.rmtree(staging)
        if not os.path.isfile(self._marker_path()):
            self._write_marker()
        return largest

    def _recover_swap(self) -> None:
        """Undo a flush cut between its swaps: restore every set-aside
        bucket whose live dir is missing, then drop the set-aside and
        staging areas (a live dir beside its set-aside copy was swapped
        in completely)."""
        aside = os.path.join(self.target_dir, ASIDE_DIR)
        if os.path.isdir(aside):
            for name in os.listdir(aside):
                live = os.path.join(self.target_dir, name)
                if not os.path.exists(live):
                    os.rename(os.path.join(aside, name), live)
            shutil.rmtree(aside)
        staging = os.path.join(self.target_dir, STAGING_DIR)
        shutil.rmtree(staging, ignore_errors=True)

    def _apply_delta(self, crud: DataFrame, touched: list[int]) -> None:
        """The production MERGE INTO (executor/db_writer_bulk.go's ladder
        collapsed, same as the parquet fold): the batch reduces to its
        net per-key rows (max-ordinal value/op — merge_upsert's batch
        fold), then merges on ``_bucket`` and each key column. The ``_bucket``
        equi-term prunes the Delta scan to the batch's partitions — the
        same O(touched buckets) I/O contract the parquet slice read
        carries — and ``s.ord >= t.ord`` makes a replayed batch converge
        to identical state (last-writer-wins by ordinal, idempotent).
        Tombstone compaction then runs as a DELETE scoped to the same
        partitions."""
        from delta.tables import DeltaTable

        net = merge.merge_upsert(
            None, crud, self._keys, self.val, self.ord
        ).withColumn("_bucket", self._bucket_expr())
        t = self._delta_table()
        if t is not None:
            on = " AND ".join(
                f"t.{c} = s.{c}" for c in ("_bucket", *self._keys)
            )
            (
                t.alias("t")
                .merge(net.alias("s"), on)
                .whenMatchedUpdate(
                    condition=f"s.{self.ord} >= t.{self.ord}",
                    set={
                        self.val: f"s.{self.val}",
                        self.ord: f"s.{self.ord}",
                        "op": "s.op",
                    },
                )
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            (
                net.write.format("delta")
                .partitionBy("_bucket")
                .mode("overwrite")
                .save(self.target_dir)
            )
            t = DeltaTable.forPath(self._session, self.target_dir)
        if self._watermark is not None:
            buckets = ", ".join(str(int(b)) for b in touched)
            t.delete(
                f"op = 'd' AND {self.ord} <= {int(self._watermark)} "
                f"AND _bucket IN ({buckets})"
            )

    def state_view(self) -> DataFrame | None:
        """User-facing final state: tombstones filtered (W4 deletes).
        Reads the durable bucketed layout — between batches the disk is
        the single source of truth (no cached full-state copy to keep in
        sync)."""
        self._ensure_layout()
        if self._is_delta:
            if self._delta_table() is None:
                return None
            return merge.visible(
                self.spark.read.format("delta")
                .load(self.target_dir)
                .drop("_bucket")
            )
        if not self._bucket_dirs():
            return None
        return merge.visible(
            self.spark.read.parquet(self.target_dir).drop("_bucket")
        )

    # -- DDL ---------------------------------------------------------------

    def _apply_ddl(self, rows) -> None:
        """B2/W6: the barrier statement itself. Always journaled in order
        (the contract the tests pin); when a ``ddl_executor`` is attached
        the command also executes against the session catalog
        (streaming/ddl.SparkCatalogDDL — create/drop/rename/dropDatabase/
        index-spec properties)."""
        for r in rows:
            self.ddl_log.append((r["id"], r["ns"], r["o"]))
            if self.ddl_executor is not None:
                self.ddl_executor.execute(r["ns"], r["o"])

    # -- the foreachBatch callback ------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # before the census: its bucket ids need the count on record
        self._ensure_layout()
        spark = self._plan_session()
        db, view = self._view
        # persisted, so the census and the fold share one scan of the
        # feed (the trigger's progress counts the rows of every scan)
        batch = batch.persist()
        try:
            batch.createOrReplaceGlobalTempView(view)
            rows = spark.table(f"{db}.{view}")
            ex = self._exprs()
            if self.journal_dir:
                # M4 audit journal (collector/syncer.go:635-638): append-only
                # side output of every oplog handled, before filtering.
                rows.write.mode("append").parquet(self.journal_dir)
            census = rows.groupBy(ex.census[0]).agg(*ex.census[1:]).collect()
            per_bucket = {r["_b"]: r["_m"] for r in census if r["_b"] is not None}
            touched = list(per_bucket)
            batch_max = max(per_bucket.values(), default=None)
            if self.dead_letter_dir and any(r["_bad"] for r in census):
                rows.filter(ex.bad).write.mode("append").parquet(self.dead_letter_dir)
            ddl_rows = sorted(
                (d for r in census for d in r["_ddl"]),
                key=lambda d: (d["ts"], d["id"]),
            )
            crud = rows.filter(ex.crud)
            # barriers before the batch's MERGE commits (module docstring)
            self._apply_ddl(ddl_rows)
            largest = 0
            if touched:
                if self._is_delta:
                    self._apply_delta(crud, touched)
                else:
                    largest = self._apply_parquet(crud, touched)
            if self.mirror is not None and touched:
                # net ops from COMMITTED state (replay-safe: a replayed
                # batch re-reads the same converged rows), restricted to
                # this batch's keys — O(batch) via the same bucket-pruned
                # slice read _apply_parquet uses, never O(state)
                keys = crud.select(*self._keys).distinct()
                committed = (
                    spark.read.format("delta").load(self.target_dir)
                    .filter(F.col("_bucket").isin(touched)).drop("_bucket")
                    if self._is_delta else self._read_slice(touched)[0]
                )
                net = committed.join(
                    keys, list(self._keys), "leftsemi"
                ).select(*self._keys, self.val, "op")
                self.mirror(net, batch_id)
            if batch_max is not None:
                # advance AFTER the flush commits: a replay of this batch
                # re-merges under the old (smaller) watermark, so its own
                # tombstones are never compacted prematurely
                self._watermark = max(self._watermark or 0, batch_max)
                self._write_marker()
            if largest > ROWS_PER_BUCKET:
                # the rule: a flushed bucket outgrew its share, so the
                # count doubles until it fits (after the mirror read the
                # batch's buckets under the old count)
                grow = math.ceil(math.log2(largest / ROWS_PER_BUCKET))
                self._rebucket(self.n_buckets << grow)
        finally:
            spark.catalog.dropGlobalTempView(view)
            batch.unpersist()


def run_incr_sync(
    spark: SparkSession,
    feed_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    max_files_per_trigger: int = 1,
    timeout_sec: float = 300.0,
    mirror: object | None = None,
) -> ApplyKernel:
    """Entry point 1 (SURVEY §3.1) end-to-end: stream the replay feed
    through the apply kernel until the feed is drained (``drain_feed``:
    run to the current end, then stop — the exit-point semantics of B6
    for a bounded run). checkpointLocation gives resume (S13). The drain
    runs in ``spark`` itself, so a listener on its ``streams`` hears
    every batch. ``mirror`` passes through to ``ApplyKernel.mirror`` (the
    live-target hook, e.g. sources/live.mongo_ops_mirror for
    tunnel=direct)."""
    kernel = ApplyKernel(spark, target_dir, dead_letter_dir, mirror=mirror)
    drain_feed(
        spark, feed_dir, kernel.process_batch, checkpoint_dir,
        max_files_per_trigger, timeout_sec,
    )
    return kernel


def drain_feed(
    spark: SparkSession,
    feed_dir: str,
    process_batch,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    timeout_sec: float = 300.0,
) -> list[dict]:
    """Drain the replay feed at ``feed_dir`` through ``process_batch``
    under one checkpoint, as one ``streaming/drain.drain`` run in
    ``spark``; returns the drain's per-batch progress. On timeout the
    query is stopped and TimeoutError raised; a re-run resumes from the
    checkpoint."""
    from mongoshake_spark.streaming.replay import read_oplog_stream

    stream = read_oplog_stream(spark, feed_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return drain(writer, "incremental sync", timeout_sec)
