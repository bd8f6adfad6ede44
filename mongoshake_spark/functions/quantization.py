"""Product quantization (PQ) — vector compression for the ANN plane.

At 100 TB the embedding STORE, not the index math, dominates ANN cost:
a 64-dim float64 corpus is 512 bytes/vector, while PQ codes at m=4
subspaces × 8 codewords are 4 bytes/vector (m log2(k) bits) plus an
m·k-row codebook — a ~128× reduction that turns the scoring pass into a
scan of tiny code arrays plus broadcast lookup tables (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
No reference analog (MongoShake has no vector plane); standard
training-data-pipeline infrastructure.

Pieces. The PQ family runs on the numpy kernels of
``functions/vec`` behind ``mapInArrow``, over a frozen driver-side
:class:`PQModel` (an (m, k, d) codebook plus a mask of the codewords
that exist):

- :func:`pq_train` — per-subspace codebooks by deterministic Lloyd
  iterations (smallest-id init, rounded centroids/distances), all m
  subspaces trained jointly; ``clustering.kmeans_fit`` is its
  one-subspace case (:func:`_pq_fit` with ``m=1``). The
  seed is one ``orderBy(id).limit(k)`` collect; each update is one
  map-only pass that emits per-partition ``(sum, count)`` for every
  (sub, cluster, pos), combined on the driver. Returns the m·k-row
  ``(sub, cluster, centroid)`` frame as a local relation;
- :func:`pq_encode` — nearest codeword per subspace, one map-only
  ``mapInArrow`` pass over the corpus (ties to the smaller cluster id,
  as ``vec.nearest_code`` and the oracle break them);
- :func:`pq_reconstruct` — codes back to the quantized vector (codebook
  lookups, order-preserving flatten);
- :func:`pq_topk` — asymmetric distance computation (ADC): the query
  keeps its EXACT subvectors. The query vectors are collected once, the
  Q·m·k lookup table and the codeword norms are built on the driver,
  and one ``mapInArrow`` pass encodes each corpus row, scores every
  query and keeps a per-partition top-``max(k, rerank)`` per query; the
  ranking window finishes. Approximate cosine =
  ADC-dot / (‖q‖ · ‖reconstruction‖), with ‖reconstruction‖² =
  Σ_sub ‖codeword‖² (the subspaces are an orthogonal decomposition).

Float determinism: every cross-engine-checked double is computed by a
kernel that replays the SQL fold it replaced — dots and squared
distances left to right inside a subspace, ADC sums in subspace order,
Spark's HALF_UP ``round(x, 6)`` — so the results are bit-identical to
the higher-order-function plans and the DuckDB oracle reproduces them.
The one reduction across rows, the Lloyd mean, sums EXACTLY
(``vec.exact_sum_parts``), so a codebook does not depend on how the
corpus is partitioned.

Scale shape: the frozen model (``m·k·d`` entries) and the query LUT
(``Q·m·k`` entries) are driver-resident and shipped in each task's
closure, each under a declared ceiling (``_PQ_MODEL_MAX_ENTRIES``,
``_PQ_LUT_MAX_ENTRIES``). The corpus is touched by one map-only pass per
train iteration (its output is m·k·d rows per partition), one map-only
encode pass, and one map-only scoring pass whose single exchange is the
top-k window over at most ``Q·max(k, rerank)`` rows per partition.
Nothing is all-pairs; nothing collects the corpus; the corpus itself
never hash-shuffles.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mongoshake_spark.functions import vec
from mongoshake_spark.functions.similarity import (
    CentroidTable,
    _cell_pass,
    dot_expr,
    with_norm,
)


#: key stride for the flattened (sub, cluster) lookup maps of
#: :func:`ivfadc_score`: key = sub * _LUT_STRIDE + cluster. Codeword ids
#: are 0..k_code-1 (init numbers them 0..k-1 and updates only re-emit
#: existing ids), so any stride > k_code is collision-free; 1 << 20
#: leaves the bound loud.
_LUT_STRIDE = 1 << 20

#: ceiling on a frozen :class:`PQModel` (m·k·d codebook doubles, 32 MiB):
#: the model is collected to the driver and pickled into every encode
#: and scoring task, so an unbounded k or dim fails here, loudly
_PQ_MODEL_MAX_ENTRIES = 1 << 22
#: ceiling on :func:`pq_topk`'s query lookup table (Q·m·k doubles), which
#: rides in every scoring task the same way
_PQ_LUT_MAX_ENTRIES = 1 << 22


class PQModel:
    """A frozen PQ quantizer: ``codebook`` (m, k, d) doubles and ``mask``
    (m, k), True where codeword (sub, cluster) exists (a codeword that
    lost every member in a Lloyd update drops out, like the oracle's
    ``c1r`` rows). Built on the driver, bounded by
    ``_PQ_MODEL_MAX_ENTRIES``, shipped to tasks inside their closures."""

    def __init__(self, codebook, mask):
        self.codebook = np.asarray(codebook, dtype=np.float64)
        self.mask = np.asarray(mask, dtype=bool)
        self.m, self.k, self.d = self.codebook.shape
        vec.check_ceiling("PQModel", self.codebook.size, _PQ_MODEL_MAX_ENTRIES)

    @classmethod
    def from_frame(cls, codebooks: DataFrame) -> "PQModel":
        """The model of a ``(sub, cluster, centroid)`` codebook frame — one
        collect (none for the local relation :func:`pq_train` returns)."""
        rows = codebooks.select("sub", "cluster", "centroid").collect()
        if not rows:
            raise ValueError("PQModel: empty codebook table")
        m = max(int(r["sub"]) for r in rows) + 1
        k = max(int(r["cluster"]) for r in rows) + 1
        d = len(rows[0]["centroid"])
        if any(len(r["centroid"]) != d for r in rows):
            raise ValueError("PQModel: codewords of different lengths")
        vec.check_ceiling("PQModel", m * k * d, _PQ_MODEL_MAX_ENTRIES)
        cb = np.zeros((m, k, d))
        mask = np.zeros((m, k), dtype=bool)
        for r in rows:
            cb[r["sub"], r["cluster"]] = r["centroid"]
            mask[r["sub"], r["cluster"]] = True
        return cls(cb, mask)

    def to_frame(self, spark) -> DataFrame:
        """``(sub, cluster, centroid)``, one row per existing codeword, as
        a local relation."""
        return spark.createDataFrame(
            [
                (int(s), int(c), self.codebook[s, c].tolist())
                for s, c in zip(*np.nonzero(self.mask))
            ],
            "sub int, cluster int, centroid array<double>",
        )


def _as_model(codebooks) -> PQModel:
    return (
        codebooks
        if isinstance(codebooks, PQModel)
        else PQModel.from_frame(codebooks)
    )


_LLOYD_SCHEMA = StructType(
    [
        StructField("sub", IntegerType()),
        StructField("cluster", IntegerType()),
        StructField("pos", IntegerType()),
        StructField("n", LongType()),
        StructField("parts", ArrayType(DoubleType())),
    ]
)


def pq_train(
    vecs: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit per-subspace codebooks; returns ``(sub, cluster, centroid)``
    — one row per codeword, a local relation built from the frozen
    model (see :func:`_pq_fit`)."""
    model = _pq_fit(vecs, m, k, iters, id_col, vec_col)
    return model.to_frame(vecs.sparkSession)


def _pq_fit(
    vecs: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    who: str = "pq_train",
) -> PQModel:
    """The :class:`PQModel` behind :func:`pq_train` and, at ``m=1``,
    ``clustering.kmeans_fit`` (``who`` names the caller in errors).

    All m subspaces train jointly: the k smallest-id vectors seed every
    subspace (rounded to 6 dp), and each of the ``iters - 1`` updates is
    ONE map-only pass (``vec.lloyd_partials``) whose per-partition exact
    sums the driver combines into ``round(sum / count, 6)`` means. The
    sum is exact, so the codebook is the same at any partition width."""
    if k < 1 or iters < 1:
        raise ValueError(f"{who}: k and iters must be >= 1")
    if k >= _LUT_STRIDE:
        # ivfadc_score's flattened (sub·stride + cluster) LUT keys are
        # collision-free only while cluster ids stay below the stride;
        # map_from_entries is last-wins, so a collision would silently
        # corrupt ADC scores
        raise ValueError(
            f"{who}: k={k} >= LUT stride {_LUT_STRIDE} — "
            "codeword ids would collide in the flattened ADC lookup maps"
        )
    # init: the k smallest-id vectors (k bounded by the operator's own
    # parameter, like the model itself); the dimension comes from the
    # seed rows themselves
    seed_rows = (
        vecs.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if not seed_rows:
        raise ValueError(f"{who}: empty vector table")
    dim = next(
        (len(r[vec_col]) for r in seed_rows if r[vec_col] is not None), 0
    )
    if dim % m != 0:
        raise ValueError(f"{who}: dim {dim} not divisible by m={m}")
    d = dim // m
    n = len(seed_rows)
    seeds = vec.rows_matrix(seed_rows, id_col, vec_col, dim, who)
    model = PQModel(
        vec.spark_round(seeds.reshape(n, m, d).transpose(1, 0, 2)),
        np.ones((m, n), dtype=bool),
    )
    for _ in range(iters - 1):
        rows = (
            vecs.select(id_col, vec_col)
            .mapInArrow(
                partial(
                    vec.lloyd_partials, codebook=model.codebook,
                    mask=model.mask, id_col=id_col, vec_col=vec_col, who=who,
                ),
                _LLOYD_SCHEMA,
            )
            .collect()
        )
        parts: dict = {}
        counts = np.zeros((m, n), dtype=np.int64)
        for r in rows:
            parts.setdefault((r["sub"], r["cluster"], r["pos"]), []).extend(
                r["parts"]
            )
            if r["pos"] == 0:
                counts[r["sub"], r["cluster"]] += r["n"]
        cb = np.zeros((m, n, d))
        for (s, c, j), ps in parts.items():
            cb[s, c, j] = vec.combine_parts(ps) / counts[s, c]
        model = PQModel(vec.spark_round(cb), counts > 0)
    return model


def pq_encode(
    vecs: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, codes array<int>): nearest codeword per
    subspace, codes ordered by subspace index. Distance ties break to
    the smaller cluster id, exactly like k-means' assignment (and the
    oracle).

    ``codebooks`` is a :class:`PQModel` or a ``(sub, cluster,
    centroid)`` frame (collected once, here). Encoding is ONE map-only
    ``mapInArrow`` pass (``vec.encode`` per Arrow batch); ``keep_cols``
    ride through on the row."""
    model = _as_model(codebooks)
    schema = StructType(
        [vecs.schema[c] for c in (id_col, *keep_cols)]
        + [StructField("codes", ArrayType(IntegerType()))]
    )
    return vecs.select(*dict.fromkeys([id_col, *keep_cols, vec_col])).mapInArrow(
        partial(
            vec.encode_batches, codebook=model.codebook, mask=model.mask,
            id_col=id_col, vec_col=vec_col, keep_cols=keep_cols,
        ),
        schema,
    )


def pq_reconstruct(
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, embedding): the quantized reconstruction — each code replaced
    by its codeword, subspaces concatenated in order."""
    exploded = codes.select(
        id_col, F.posexplode("codes").alias("sub", "cluster")
    ).join(F.broadcast(codebooks), ["sub", "cluster"])
    return exploded.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "centroid"))),
                lambda s: s["centroid"],
            )
        ).alias("embedding")
    )


def _exact_rerank(
    out: DataFrame,
    w,
    unit: DataFrame,
    qv: DataFrame,
    rerank: int,
    k: int,
    id_col: str,
    vec_col: str,
    fn_name: str,
) -> DataFrame:
    """Shared two-stage exact-re-rank finisher (Jégou et al. §V) for the
    quantized ANN paths: shortlist the top-``rerank`` approximate
    candidates per query from ``out`` (ranked by window ``w``), then
    re-score ONLY those Q·C rows with exact cosine against their stored
    vectors. The shortlist broadcasts onto the corpus scan — one
    candidate-sized semi-probe, never a corpus shuffle — so
    full-precision vectors are read for C rows per query only.
    ``qv`` carries ``(query_id, _qv, _qn)``.
    """
    if rerank < k:
        raise ValueError(f"{fn_name}: rerank={rerank} must be >= k={k}")
    shortlist = (
        out.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    nb = unit.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        F.col("vnorm").alias("_nn"),
    )
    return (
        nb.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(dot_expr("_qv", "_nv")) / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cos_sim"),
        )
    )


def pq_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    m: int = 4,
    k_code: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k by ADC over PQ codes. Queries score with
    their EXACT vectors against the quantized corpus; pass pre-trained
    ``codebooks`` (a frame or a :class:`PQModel`) to reuse a fitted
    quantizer (the production shape — train once, encode incrementally).

    Build-time driver work: the model (trained here, or collected from
    ``codebooks``), then ONE collect of the query vectors. A query whose
    norm is zero (or NaN) is dropped, as ``with_norm`` drops it; a null
    or wrong-length query embedding raises ``ValueError`` naming its id.
    The Q·m·k LUT, the query norms and the codeword norms are
    ``vec.fold_dot`` folds on the driver. The scoring pass is one
    ``mapInArrow`` over the corpus (``vec.adc_topk``), and the
    ranking window finishes over its per-partition top-k rows.

    ``rerank=C`` adds the standard two-stage production finisher (Jégou
    et al. §V: ADC shortlists, exact re-rank): the top-C ADC candidates
    per query are re-scored with EXACT cosine against their stored
    vectors, then the final top-k is taken by the exact score. The
    re-rank I/O is candidate-sized: the Q·C-row shortlist is BROADCAST
    against the corpus scan (one semi-probe, never a corpus shuffle), so
    the full-precision vectors are read for C rows per query only — the
    ADC pass still scans nothing but m-byte codes. Recall@k at C=10·k is
    measured in scripts/ann_recall_proof.py (gated >= 0.9 at sf0.1)."""
    if codebooks is None:
        model = _pq_fit(vecs, m, k_code, iters, id_col, vec_col)
    else:
        model = _as_model(codebooks)
    m, d = model.m, model.d
    q_rows = (
        vecs.filter(F.col(id_col).isin(list(query_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    qv = vec.rows_matrix(q_rows, id_col, vec_col, m * d, "pq_topk")
    qids = np.array([r[id_col] for r in q_rows])
    if len(set(qids.tolist())) != len(qids):
        raise ValueError(f"pq_topk: duplicate {id_col} among the queries")
    qnorm = np.sqrt(vec.fold_dot(qv, qv))
    keep = qnorm > 0
    qv, qids, qnorm = qv[keep], qids[keep], qnorm[keep]
    vec.check_ceiling("pq_topk LUT", len(qids) * m * model.k, _PQ_LUT_MAX_ENTRIES)
    lut = np.stack(
        [
            vec.fold_dot(qv[:, None, s * d : (s + 1) * d], model.codebook[s][None])
            for s in range(m)
        ],
        axis=1,
    )
    id_type = vecs.schema[id_col].dataType
    out = vecs.select(id_col, vec_col).mapInArrow(
        partial(
            vec.adc_topk, codebook=model.codebook, mask=model.mask, lut=lut,
            qnorm=qnorm, qids=qids, depth=max(k, rerank or 0),
            id_col=id_col, vec_col=vec_col,
        ),
        StructType(
            [
                StructField("query_id", id_type),
                StructField("neighbor_id", id_type),
                StructField("cos_sim", DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    if rerank is not None:
        qframe = vecs.sparkSession.createDataFrame(
            [
                (q, v.tolist(), float(n))
                for q, v, n in zip(qids.tolist(), qv, qnorm)
            ],
            StructType(
                [
                    StructField("query_id", id_type),
                    StructField("_qv", vecs.schema[vec_col].dataType),
                    StructField("_qn", DoubleType()),
                ]
            ),
        )
        out = _exact_rerank(
            out, w, with_norm(vecs, vec_col), qframe, rerank, k, id_col,
            vec_col, "pq_topk",
        )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    k_code: int = 8,
    iters: int = 2,
    centroid_mod: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the production ANN
    composition: a coarse quantizer partitions the corpus into cells
    (the same deterministic id-sample `similarity.ivf_topk` uses), PQ
    codebooks are trained on the RESIDUALS ``v - centroid(cell)`` (the
    residual distribution is tighter than the raw vectors, so the same
    code budget quantizes finer), and a query scans only its ``n_probe``
    nearest cells' codes with a per-(query, cell) ADC table built from
    the query's residual against that cell.

    Approximate cosine is reconstructed exactly from decomposable terms,
    every cross-engine sum folding in a fixed subspace order. With
    v̂ = c + r̂ (cell centroid plus reconstructed residual) and the ADC
    table built from the QUERY residual q-c:

        dot(q, v̂) = dot(q, c) + dot(q, r̂)
                   = dot(q, c) + Σ_sub dot(q_sub - c_sub, codeword)
                              + Σ_sub dot(c_sub, codeword)
        ‖v̂‖²      = ‖c‖² + 2·Σ_sub dot(c_sub, codeword) + Σ_sub ‖codeword‖²

    (the centroid-residual cross term appears in BOTH numerator and
    denominator — the residual ADC sum alone is dot(q-c, r̂), not
    dot(q, r̂))

    Scale shape: coarse assignment and residual are one map-only pass
    over the frozen centroid sample; residual train/encode are the
    pq_train/pq_encode passes (map-only + k·m-row model state); the
    scoring pass reads m-byte codes of the
    PROBED cells only (probe map broadcast), so per-query I/O is
    n_probe/|cells| of a code-sized store — the two compression levers
    (cell restriction × code compression) multiply.

    ``rerank=C`` adds the exact re-rank finisher (same two-stage shape
    as ``pq_topk(rerank=...)``): the top-C IVFADC candidates per query
    are re-scored with EXACT cosine against their stored vectors via a
    broadcast of the Q·C-row shortlist onto the corpus scan —
    candidate-sized I/O, and the final top-k ranks by the exact score.
    This is the full production composition: cell restriction × code
    compression × exact finish.
    """
    unit = with_norm(vecs, vec_col)
    cents = CentroidTable.sample(unit, centroid_mod, id_col, vec_col, "ivfpq_topk")
    if cents.dim % m != 0:
        raise ValueError(f"ivfpq_topk: dim {cents.dim} not divisible by m={m}")
    d = cents.dim // m
    # persist, NOT an eager localCheckpoint: checkpointing an AQE
    # plan can materialize at ~2 coalesced partitions, which would
    # serialize every downstream Lloyd pass and the code scan; the
    # cache keeps full stage width (blocks LRU-evict under pressure)
    res = ivfpq_assign_residuals(unit, cents, id_col, vec_col).persist()
    res.count()  # materialize once for train + encode + the cell map
    model = _pq_fit(res, m, k_code, iters, id_col, "res")
    # cell rides through the map-only encode
    codes = pq_encode(res, model, id_col, "res", keep_cols=("cell",))
    queries = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    return ivfadc_score(
        codes,
        cents.to_frame(unit.sparkSession),
        model.to_frame(unit.sparkSession),
        queries,
        m=m,
        d=d,
        k=k,
        n_probe=n_probe,
        rerank=rerank,
        unit=unit,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivfpq_assign_residuals(
    unit: DataFrame,
    cents: DataFrame | CentroidTable,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, res) — nearest-cell assignment plus the residual
    ``v - centroid(cell)`` that IVFADC quantizes, both from ONE
    ``mapInArrow`` pass (``vec.cell_batches``) over the frozen
    ``cents`` (a ``similarity.CentroidTable`` or a ``(cid, cvec, …)``
    frame, collected once here). Shared by the batch :func:`ivfpq_topk`
    and the streaming ingest encoder (streaming/ann_ingest) so a vector
    encodes IDENTICALLY whether it arrived in the training corpus or in
    a later micro-batch."""
    return _cell_pass(
        unit, cents, vec_col, id_col, (), True, "ivfpq_assign_residuals"
    )


def ivfadc_score(
    codes: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    m: int,
    d: int,
    k: int,
    n_probe: int,
    rerank: int | None = None,
    unit: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVFADC scoring stage of :func:`ivfpq_topk`, factored out so it
    runs identically over an in-flight model (batch path) or a PERSISTED
    one (streaming/ann_ingest.ann_index_topk — the store's parquet
    round-trip is exact for doubles, so scores hash-equal the batch
    path). ``codes`` = (id, cell, codes), ``cents`` = (cid, cvec,
    cnorm), ``queries`` = (query_id, qvec, qnorm). ``rerank`` requires
    ``unit`` (the stored raw vectors).

    The probe/ADC model math — nearest-cell probes, per-(query, cell)
    residual LUTs, centroid×codeword cross terms — is computed on the
    DRIVER from the collected model tables and re-enters the plan as ONE
    local-relation broadcast (``cellrows``). Everything here is
    MODEL-sized (cells, Q·n_probe·m·k LUT entries — KB at any corpus
    size; the same bounded residency the PQ seeds, SQ8 bounds and PCA
    components already carry), while the former plan spent ~4 exchanges
    and ~6 broadcast builds per probe shuffling those same KB around the
    cluster. The CORPUS path — the code scan and its in-row map-lookup
    scoring below — is untouched. Bit-exactness: every driver fold
    replays ``dot_expr``'s arithmetic literally (acc = acc + x*y over
    doubles, left to right — Python floats are IEEE doubles, so each
    step performs the identical two roundings); subtraction, division
    and comparison are single IEEE ops on both sides; and the probe
    tie-break (cs desc, cid asc) is the same lexicographic order the old
    row_number window used.

    Eager at build time: three ``collect``s (centroids, queries,
    codebooks) run Spark jobs when this is CALLED, not when the result is
    executed, so model errors surface at construction. A zero, NaN or
    null ``cnorm``/``qnorm`` is rejected there with a ``ValueError``
    naming the row: the cosine probe divides by ``qnorm * cnorm``."""
    if rerank is not None and unit is None:
        raise ValueError("ivfadc_score: rerank needs the raw-vector table")
    spark = codes.sparkSession

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    cent_rows = cents.select("cid", "cvec", "cnorm").collect()
    q_rows = queries.collect()
    for rows, id_name, norm_name in (
        (cent_rows, "cid", "cnorm"),
        (q_rows, "query_id", "qnorm"),
    ):
        for r in rows:
            norm = r[norm_name]
            if norm is None or norm == 0 or math.isnan(norm):
                raise ValueError(
                    f"ivfadc_score: {norm_name}={norm} at {id_name}="
                    f"{r[id_name]!r}; the cosine probe needs a non-zero number"
                )
    cb_rows = codebooks.select("sub", "cluster", "centroid").collect()
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r["sub"]), []).append(r)
    cent_by_id = {r["cid"]: r for r in cent_rows}

    def _cd_map(cvec):
        # centroid×codeword cross terms + codeword self-norms for one
        # PROBED cell (the old per-cell inner joins kept exactly the
        # probed cells' rows)
        out = {}
        for s, rows in by_sub.items():
            csv = cvec[s * d : (s + 1) * d]
            for r in rows:
                out[s * _LUT_STRIDE + int(r["cluster"])] = (
                    _dot(csv, r["centroid"]),
                    _dot(r["centroid"], r["centroid"]),
                )
        return out

    probed: dict = {}  # cell -> [(query_id, lut, q_dot_c, cnorm, qnorm)]
    for q in q_rows:
        qvec, qnorm = q["qvec"], float(q["qnorm"])
        scored = [
            (_dot(qvec, c["cvec"]) / (qnorm * float(c["cnorm"])), c["cid"])
            for c in cent_rows
        ]
        # top n_probe by (cs desc, cid asc) — row_number's tie-break
        scored.sort(key=lambda t: (-t[0], t[1]))
        for _cs, cid in scored[:n_probe]:
            c = cent_by_id[cid]
            qr = [float(x) - float(y) for x, y in zip(qvec, c["cvec"])]
            lut = {}
            for s, rows in by_sub.items():
                qsv = qr[s * d : (s + 1) * d]
                for r in rows:
                    lut[s * _LUT_STRIDE + int(r["cluster"])] = _dot(
                        qsv, r["centroid"]
                    )
            probed.setdefault(cid, []).append(
                (
                    q["query_id"],
                    lut,
                    _dot(qvec, c["cvec"]),
                    float(c["cnorm"]),
                    qnorm,
                )
            )

    from pyspark.sql.types import MapType

    qid_type = queries.schema["query_id"].dataType
    cell_type = cents.schema["cid"].dataType
    cell_schema = StructType(
        [
            StructField("cell", cell_type),
            StructField(
                "_qs",
                ArrayType(
                    StructType(
                        [
                            StructField("query_id", qid_type),
                            StructField(
                                "_lut", MapType(LongType(), DoubleType())
                            ),
                            StructField("q_dot_c", DoubleType()),
                            StructField("cnorm", DoubleType()),
                            StructField("qnorm", DoubleType()),
                        ]
                    )
                ),
            ),
            StructField(
                "_cd",
                MapType(
                    LongType(),
                    StructType(
                        [
                            StructField("cdsub", DoubleType()),
                            StructField("rn2", DoubleType()),
                        ]
                    ),
                ),
            ),
        ]
    )
    cellrows = spark.createDataFrame(
        [
            (cell, qs, _cd_map(cent_by_id[cell]["cvec"]))
            for cell, qs in probed.items()
        ],
        cell_schema,
    )

    def lut_sum(lut_col, field=None):
        expr = F.lit(0.0)
        for s in range(m):
            v = F.element_at(
                lut_col,
                F.lit(s * _LUT_STRIDE) + F.element_at(F.col("codes"), s + 1),
            )
            if field is not None:
                v = v.getField(field)
            expr = expr + v
        return expr

    out = (
        codes.join(F.broadcast(cellrows), "cell")
        .select(
            F.col(id_col).alias("neighbor_id"),
            "codes",
            F.explode("_qs").alias("q"),
            "_cd",
        )
        .filter(F.col("neighbor_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            "neighbor_id",
            lut_sum(F.col("q._lut")).alias("adc_sum"),
            lut_sum(F.col("_cd"), "cdsub").alias("cd_sum"),
            lut_sum(F.col("_cd"), "rn2").alias("rn2_sum"),
            "q.q_dot_c",
            "q.cnorm",
            "q.qnorm",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                (F.col("q_dot_c") + F.col("adc_sum") + F.col("cd_sum"))
                / (
                    F.col("qnorm")
                    * F.sqrt(
                        F.col("cnorm") * F.col("cnorm")
                        + 2 * F.col("cd_sum")
                        + F.col("rn2_sum")
                    )
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    if rerank is not None:
        qv = queries.select(
            "query_id", F.col("qvec").alias("_qv"), F.col("qnorm").alias("_qn")
        )
        out = _exact_rerank(
            out, w, unit, qv, rerank, k, id_col, vec_col, "ivfpq_topk"
        )
    return (
        out.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def sq8_train(
    vecs: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Scalar-quantizer fit (FAISS SQ8): per-DIMENSION min/max over the
    corpus — ``(pos, mn, mx)``, dim rows. One map-side-combined
    aggregate over the exploded corpus; the 'codebook' is dim-sized
    model state (the same bounded driver residency k-means seeds and PQ
    codebooks carry)."""
    return (
        vecs.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.min(F.col("val").cast("double")).alias("mn"),
            F.max(F.col("val").cast("double")).alias("mx"),
        )
    )


def _sq8_arrays(bounds: DataFrame) -> tuple:
    """Bounds as in-row array literals (mn[i], mx[i]) — dim-sized."""
    rows = sorted((r["pos"], r["mn"], r["mx"]) for r in bounds.collect())
    mn = F.array(*[F.lit(m) for _, m, _ in rows])
    mx = F.array(*[F.lit(x) for _, _, x in rows])
    return mn, mx


def sq8_encode(
    vecs: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """(id, codes array<int>): each dimension linearly quantized to one
    byte — ``round((x - mn) / (mx - mn) * 255)`` — an 8x store
    compression of a float64 corpus (4x of float32) with NO codebook
    search (unlike PQ, encode is a pure in-row map). Constant dimensions
    (mx == mn) encode to 0 and reconstruct to mn exactly."""
    mn, mx = _sq8_arrays(bounds)
    codes = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.element_at(mx, i + 1) > F.element_at(mn, i + 1),
            F.round(
                (x.cast("double") - F.element_at(mn, i + 1))
                / (F.element_at(mx, i + 1) - F.element_at(mn, i + 1))
                * 255.0,
                0,
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return vecs.select(id_col, codes.alias(out_col))


def sq8_reconstruct(
    codes: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """(id, embedding): codes back to ``mn + code/255 * (mx - mn)`` —
    in-row, broadcast-free (the bounds ride as array literals)."""
    mn, mx = _sq8_arrays(bounds)
    recon = F.transform(
        F.col(codes_col),
        lambda c, i: F.element_at(mn, i + 1)
        + c.cast("double") / 255.0
        * (F.element_at(mx, i + 1) - F.element_at(mn, i + 1)),
    )
    return codes.select(id_col, recon.alias(out_col))


def sq8_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric top-k over the SQ8-compressed store: queries keep
    their exact vectors, the corpus is scored through its int8
    reconstruction (encode -> reconstruct -> cosine) — the scan reads
    1 byte/dim instead of 8. Per-dim quantization keeps ~8 bits of
    signal per axis, so recall is near-exact (measured in
    scripts/ann_recall_proof.py) at 8x compression; PQ goes further
    (32-128x) by trading recall — the two quantizers bracket the
    store-size/recall frontier."""
    # the dim-sized bounds table is collected twice (encode + reconstruct
    # each build their array literals from it) — checkpoint it so the
    # corpus-wide min/max aggregation runs ONCE, not per collect
    bounds = sq8_train(vecs, vec_col).localCheckpoint(eager=True)
    recon = sq8_reconstruct(
        sq8_encode(vecs, bounds, id_col, vec_col), bounds, id_col
    )
    unit = with_norm(vecs, vec_col)
    queries = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    nb = with_norm(recon, "embedding").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("nvec"),
        F.col("vnorm").alias("nnorm"),
    )
    scored = (
        nb.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(dot_expr("qvec", "nvec"))
                / (F.col("qnorm") * F.col("nnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# OPQ — optimized product quantization (parametric variant)
# ---------------------------------------------------------------------------


class OPQModel:
    """Fitted parametric OPQ rotation (Ge, He, Ke, Sun, "Optimized
    Product Quantization", CVPR 2013, §4 "OPQ-P"): an orthonormal
    rotation that re-coordinates the space so the m PQ subspaces carry
    BALANCED variance (the paper's independence+balance criterion under
    a Gaussian assumption: allocate principal directions to subspaces
    equalizing the product of eigenvalues). PQ's subspace split is
    arbitrary coordinate slicing; when variance concentrates in a few
    dims one codebook absorbs most of the distortion — OPQ-P fixes the
    allocation once, from the data's eigenstructure, with no iterative
    codebook coupling, so the fit stays deterministic.

    ``rotation`` is (dim, dim) with orthonormal ROWS (eigenvectors,
    sign-fixed); row order = subspace-major, so subspace s owns rotated
    dims [s*dim/m, (s+1)*dim/m). Rotation WITHOUT centering: norms and
    inner products are preserved exactly, so exact cosine on rotated
    vectors equals exact cosine on the originals and the ADC scores
    estimate the same quantity PQ's do."""

    def __init__(self, rotation, eigenvalues, allocation):
        self.rotation = rotation
        self.eigenvalues = eigenvalues
        self.allocation = allocation  # list[list[int]] eig idx per subspace


def opq_fit(vecs: DataFrame, m: int, vec_col: str = "embedding") -> OPQModel:
    """Fit the OPQ-P rotation from the distributed second moments (one
    corpus pass via projection.embedding_moments; eigh driver-side —
    dim³, corpus-size-independent). Eigenvalue allocation is a snake
    draft over the descending spectrum (round r deals 0..m-1, round r+1
    deals m-1..0): each subspace gets one eigenvalue per round, so the
    per-subspace variance products stay balanced. (A naive greedy
    "assign to the smallest running log-product" COLLAPSES when all
    eigenvalues are < 1 — every assignment makes a bucket's log-product
    more negative, so the greedy stuffs one bucket with the entire top
    of the spectrum before touching the next; measured on an
    anisotropic corpus it produced per-subspace variance sums of
    [0.094, 0.006, 0.0003, ~0] where the snake gives a near-even
    split.)"""
    import numpy as np

    from mongoshake_spark.functions.projection import embedding_moments

    mom = embedding_moments(vecs, vec_col)
    dim = len(mom.mean)
    if dim % m:
        raise ValueError(f"opq_fit: dim={dim} not divisible by m={m}")
    evals, evecs = np.linalg.eigh(mom.cov)
    order = np.argsort(evals)[::-1]
    buckets: list[list[int]] = [[] for _ in range(m)]
    for r, idx in enumerate(order):
        b = r % m if (r // m) % 2 == 0 else m - 1 - (r % m)
        buckets[b].append(int(idx))
    rows = []
    for b in range(m):
        for idx in buckets[b]:
            c = evecs[:, idx].copy()
            pivot = int(np.argmax(np.abs(c)))
            if c[pivot] < 0:
                np.negative(c, out=c)
            rows.append(c)
    return OPQModel(
        rotation=np.vstack(rows),
        eigenvalues=evals[order][::1],
        allocation=buckets,
    )


def opq_rotate(
    df: DataFrame,
    model: OPQModel,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply the rotation map-only: each rotated coordinate is one JVM
    fold of the input against a double-literal eigenvector row (the
    projection.py pattern — no UDF, no shuffle). ``out_col=None``
    REPLACES ``vec_col`` so the rotated frame drops straight into the
    unchanged PQ machinery."""
    from mongoshake_spark.functions.projection import _lit_array

    exprs = [
        dot_expr(vec_col, _lit_array(r.tolist())) for r in model.rotation
    ]
    target = out_col or vec_col
    return df.withColumn(target, F.expr("array(" + ", ".join(exprs) + ")"))


def opq_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    m: int = 4,
    k_code: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    model: OPQModel | None = None,
) -> DataFrame:
    """PQ ADC top-k with the OPQ-P rotation in front: rotate (map-only),
    train/encode/score with the UNCHANGED PQ machinery on the rotated
    coordinates, and — with ``rerank=C`` — exact-rerank the shortlist
    against the ORIGINAL vectors (rotation preserves cosine, so the
    reranked scores are the raw-space values the oracle computes).
    Pass a pre-fitted ``model`` to reuse a rotation (the production
    shape — fit once, rotate incrementally alongside pq_encode)."""
    if model is None:
        model = opq_fit(vecs, m, vec_col)
    rot = opq_rotate(vecs, model, vec_col)
    if rerank is None:
        return pq_topk(
            rot, query_ids, k=k, m=m, k_code=k_code, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    if rerank < k:
        raise ValueError(f"opq_topk: rerank={rerank} must be >= k={k}")
    shortlist_scored = pq_topk(
        rot, query_ids, k=rerank, m=m, k_code=k_code, iters=iters,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    unit = with_norm(vecs, vec_col)
    qv = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("vnorm").alias("_qn"),
    )
    out = _exact_rerank(
        shortlist_scored, w, unit, qv, rerank, k, id_col, vec_col, "opq_topk"
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def opq_perm_fit(
    vecs: DataFrame,
    m: int,
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list:
    """The SQL-replayable half of OPQ-P: a variance-balanced DIMENSION
    PERMUTATION (no rotation). Per-dim population variances (diag of the
    one-pass distributed moments) are rounded — so both engines rank the
    same values despite summation-order fp drift — then dealt to the m
    subspaces in a snake draft (descending variance; round r goes
    0..m-1, round r+1 goes m-1..0), which balances per-subspace variance
    without any driver/SQL-divergent greedy state. Returns the
    new-to-old index list, subspace-major: new dim ``b*dim/m + i`` is
    the i-th pick of bucket b. Every step (variance, rank, snake,
    within-bucket order) is reproducible as plain window SQL, so the
    full permuted-PQ pipeline gets a staged DuckDB oracle — unlike the
    eigen rotation, whose fit (eigh) no SQL engine replays."""
    import numpy as np

    from mongoshake_spark.functions.projection import embedding_moments

    mom = embedding_moments(vecs, vec_col)
    dim = len(mom.mean)
    if dim % m:
        raise ValueError(f"opq_perm_fit: dim={dim} not divisible by m={m}")
    var = np.round(np.diag(mom.cov), round_digits)
    order = sorted(range(dim), key=lambda d: (-var[d], d))
    buckets: list[list[int]] = [[] for _ in range(m)]
    for r, d in enumerate(order):
        b = r % m if (r // m) % 2 == 0 else m - 1 - (r % m)
        buckets[b].append(d)
    return [d for b in buckets for d in b]


def opq_permute(
    df: DataFrame,
    new_to_old: list,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Reorder the vector's coordinates by a fitted permutation —
    map-only array indexing (element type preserved), zero arithmetic;
    ``out_col=None`` replaces ``vec_col`` for drop-in PQ reuse."""
    target = out_col or vec_col
    return df.withColumn(
        target, F.array(*[F.col(vec_col)[i] for i in new_to_old])
    )


def opq_perm_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    m: int = 4,
    k_code: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
) -> DataFrame:
    """PQ ADC top-k over the variance-balanced permutation: fit the
    snake allocation from the moments, permute map-only, run the
    UNCHANGED PQ train/encode/ADC machinery. The permutation changes
    which coordinates share a codebook (the OPQ allocation effect) but
    not the vectors themselves, so norms/cosines are untouched."""
    perm = opq_perm_fit(vecs, m, vec_col)
    return pq_topk(
        opq_permute(vecs, perm, vec_col), query_ids, k=k, m=m,
        k_code=k_code, iters=iters, id_col=id_col, vec_col=vec_col,
        rerank=rerank,
    )
