"""Streaming ANN index maintenance — IVF-PQ at ingest time.

`streaming/neardup.py` maintains a persisted MinHash band index for
text; a continuous EMBEDDING feed (the vector-ingest dual) needs the
same shape for the ANN store: new vectors are encoded and appended to
the code table per micro-batch, and queries probe the LIVE index.

Production contract — train once, encode forever:

1. :func:`ann_index_bootstrap` trains the model (coarse centroids +
   residual PQ codebooks) ONCE over the historical corpus and persists
   it under ``index_dir``. This is how real IVF-PQ deployments work
   (FAISS `train` vs `add`): the model is frozen, so a vector encodes
   identically whether it arrived in the bootstrap corpus or a later
   micro-batch — which is exactly what the registry query pins: the
   drained store's top-k hash-equals the batch ``ivfpq_topk`` on the
   same corpus.
2. :func:`streaming_ann_ingest` runs inside ``foreachBatch``: assign
   each batch vector to its nearest cell (broadcast centroid join),
   compute the residual, PQ-encode against the frozen codebooks (all
   map-only against broadcast model state — the batch never shuffles),
   and APPEND (id, cell, codes) to the parquet code table. State is the
   code table itself — no state store; a replayed batch re-appends the
   same rows, and the query path deduplicates by id, so restarts
   converge (same argument as streaming/neardup.py's band index).
3. :func:`ann_index_topk` probes the persisted store with the shared
   IVFADC scoring stage (functions/quantization.ivfadc_score) — per
   query only the ``n_probe`` nearest cells' m-byte codes are read.

At 100 TB the code table is years of ingest at 32-128x compression and
a batch is a day of vectors: the model broadcast is KB-scale, the batch
encode is map-only, and the probe reads n_probe/|cells| of a code-sized
store. Lifecycle (``streaming/index_lifecycle``): replay-duplicate
compaction rewrites the codes as a new deduped generation
(``compact_ann_store``), and centroid-drift re-training writes a fresh
model+codes generation with an atomic pointer cutover
(``retrain_ann_store``) — never an in-place mutation; ingest streams
pin model+generation at start and fail loudly (then replay from the
checkpoint) if the generation moves under them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mongoshake_spark.functions.quantization import (
    PQModel,
    ivfadc_score,
    ivfpq_assign_residuals,
    pq_encode,
    pq_train,
)
from mongoshake_spark.functions.similarity import with_norm


def _model_paths(index_dir: str) -> tuple[str, str, str]:
    """Payload paths of the ACTIVE generation (streaming/index_lifecycle
    pointer convention; legacy flat stores resolve to themselves)."""
    from mongoshake_spark.streaming.index_lifecycle import resolve_store

    base = resolve_store(index_dir)
    return (
        os.path.join(base, "model_centroids"),
        os.path.join(base, "model_codebooks"),
        os.path.join(base, "codes"),
    )


def ann_index_bootstrap(
    vecs: DataFrame,
    index_dir: str,
    m: int = 4,
    k_code: int = 8,
    iters: int = 2,
    centroid_mod: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the IVF-PQ model over the historical corpus and persist it:
    coarse centroids (deterministic id-sample, same as ``ivfpq_topk``)
    and residual PQ codebooks. Runs once; the streaming encoder and the
    probe path read these tables as frozen model state."""
    cent_path, cb_path, _ = _model_paths(index_dir)
    unit = with_norm(vecs, vec_col)
    # model-sized rows from a corpus scan: checkpoint once so the probe
    # action, the residual-assignment broadcast and the model write all
    # reuse ONE materialization instead of three corpus scans (same
    # reasoning as ivfpq_topk — guide §1.2)
    cents = (
        unit.filter((F.col(id_col) % centroid_mod) == 0)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.col("vnorm").alias("cnorm"),
        )
        .localCheckpoint(eager=True)
    )
    cent_probe = cents.select(F.size("cvec").alias("d")).first()
    if cent_probe is None:
        raise ValueError(
            f"ann_index_bootstrap: no {id_col} divisible by {centroid_mod} — "
            "choose a centroid_mod matching the corpus id space"
        )
    dim = int(cent_probe["d"])
    if dim % m != 0:
        raise ValueError(f"ann_index_bootstrap: dim {dim} not divisible by m={m}")
    res = ivfpq_assign_residuals(unit, cents, id_col, vec_col).persist()
    try:
        # no eager count: pq_train's seed collect (orderBy + limit) is
        # the first action and scans every partition, so it materializes
        # the persisted residuals itself — a count first was one extra
        # full pass over the corpus for a number nothing used
        codebooks = pq_train(res, m, k_code, iters, id_col, "res")
        cents.write.mode("overwrite").parquet(cent_path)
        codebooks.write.mode("overwrite").parquet(cb_path)
    finally:
        res.unpersist()


def streaming_ann_ingest(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataStreamWriter:
    """Wire the ingest stream over ``stream`` (a streaming DataFrame of
    vectors): each micro-batch is encoded against the bootstrapped model
    and appended to the code table. Returns the unstarted, checkpointed
    writer (``streaming/drain.drain`` runs it to the end of the feed).

    The model MUST exist (:func:`ann_index_bootstrap`) — encoding
    against a missing model fails the batch loudly rather than training
    a divergent model per batch."""
    from mongoshake_spark.streaming.index_lifecycle import read_current

    from mongoshake_spark.functions.similarity import collect_centroid_arr

    spark = stream.sparkSession
    cent_path, cb_path, codes_path = _model_paths(index_dir)
    # the model is FROZEN for the stream's lifetime (train-once contract),
    # so read and pin it once — re-planning the parquet scans per
    # micro-batch is pure scheduling overhead. The codebook becomes a
    # driver-side PQModel (one collect, m*k rows, under the model
    # ceiling) that every batch's map-only encode carries in its closure;
    # the k-centroid table is checkpointed (KB-scale), and its one-row
    # collected array is aggregated once here instead of inside every
    # micro-batch's plan (the in-row argmax fold is order-independent,
    # so reuse is bit-exact)
    cents = spark.read.parquet(cent_path).localCheckpoint(eager=True)
    model = PQModel.from_frame(spark.read.parquet(cb_path))
    cents_arr = collect_centroid_arr(cents).localCheckpoint(eager=True)
    fan = spark.sparkContext.defaultParallelism
    # generation pinned WITH the model: a retrain/compaction cutover
    # (streaming/index_lifecycle) swaps the active generation, and rows
    # encoded under the pinned model must not land in a store this stream
    # no longer owns — the per-batch check below turns the silent-loss
    # race into a loud failure; the checkpoint replays the failed batch
    # after the stream restarts against the new generation
    gen_at_start = read_current(index_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if read_current(index_dir) != gen_at_start:
            raise RuntimeError(
                "streaming_ann_ingest: store generation changed "
                f"({gen_at_start!r} -> {read_current(index_dir)!r}) under a "
                "pinned-model stream — restart the ingest stream to pick up "
                "the new generation"
            )
        # no isEmpty() pre-check: the guard itself cost one job per
        # batch, the same price as just encoding an empty batch (one
        # empty-write task the probe's dedup never sees)
        #
        # fan the batch out first: a one-feed-file micro-batch
        # arrives as ONE scan split, and the in-row nearest-centroid
        # fold is an interpreted higher-order expr — left on a single
        # task it serializes the whole assignment
        # (measured ~1.5 s/batch at sf0.1; the row-wise arithmetic is
        # partition-independent, so the fan-out is bit-exact). The
        # exchange carries only the batch's own rows; at production
        # batch sizes the scan arrives pre-split and the repartition
        # cost stays one narrow pass of the batch, never the store.
        unit = with_norm(batch_df.repartition(fan), vec_col)
        res = ivfpq_assign_residuals(
            unit, cents, id_col, vec_col, cents_arr=cents_arr
        )
        # cell rides through the map-only encode (no re-attach join)
        codes = pq_encode(res, model, id_col, "res", keep_cols=("cell",))
        # append-only, like the band index: a crash before the commit
        # replays the batch and re-appends the same rows — the probe
        # path dedups by id, so the store converges
        codes.write.mode("append").parquet(codes_path)

    return stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def ann_index_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the live store: (query_id, neighbor_id, rank, cos_sim) via
    the shared IVFADC scoring stage over the persisted model + code
    table. ``queries`` is a DataFrame of (id, vector) rows. Codes are
    deduplicated by id first (replayed-batch idempotency)."""
    cent_path, cb_path, codes_path = _model_paths(index_dir)
    cents = spark.read.parquet(cent_path)
    codebooks = spark.read.parquet(cb_path)
    codes = spark.read.parquet(codes_path).dropDuplicates([id_col])
    # model geometry comes from the persisted codebook payload itself,
    # read DRIVER-side (m*k rows, KB-scale) — the former Spark aggregate
    # launched a full job per probe for two scalars the files already
    # hold (guide §1.2)
    import pyarrow.parquet as _pq

    cb_local = _pq.read_table(cb_path, columns=["sub", "centroid"])
    if cb_local.num_rows == 0:
        raise ValueError(f"ann_index_topk: empty codebook table {cb_path!r}")
    shape = {
        "mx": max(cb_local.column("sub").to_pylist()),
        "d": max(len(c) for c in cb_local.column("centroid").to_pylist()),
    }
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    return ivfadc_score(
        codes,
        cents,
        codebooks,
        q,
        m=int(shape["mx"]) + 1,
        d=int(shape["d"]),
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )
