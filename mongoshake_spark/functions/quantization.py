"""Product quantization (PQ) — vector compression for the ANN plane.

At 100 TB the embedding STORE, not the index math, dominates ANN cost:
a 64-dim float64 corpus is 512 bytes/vector, while PQ codes at m=4
subspaces × 8 codewords are 4 bytes/vector (m log2(k) bits) plus an
m·k-row codebook — a ~128× reduction that turns the scoring pass into a
scan of tiny code arrays plus broadcast lookup tables (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
No reference analog (MongoShake has no vector plane); standard
training-data-pipeline infrastructure.

Pieces (all composable DataFrame ops, no driver-side corpus loops):

- :func:`pq_train` — per-subspace codebooks via the same deterministic
  Lloyd arithmetic as ``clustering.kmeans_fit`` (smallest-id init,
  rounded centroids/distances), all m subspaces trained JOINTLY in one
  (sub, cluster)-keyed chain — m·k codebook rows total;
- :func:`pq_encode` — nearest-codeword assignment per subspace,
  computed IN-ROW against the BROADCAST collected codebook (array_min
  over (d2, cluster) structs — the same tie-break as
  ``clustering._assign``): map-only over the corpus, zero exchanges;
- :func:`pq_reconstruct` — codes back to the quantized vector (codebook
  lookups, order-preserving flatten);
- :func:`pq_topk` — asymmetric distance computation (ADC): the query
  keeps its EXACT subvectors; per (query, sub, codeword) inner products
  form Q broadcast lookup MAPS keyed ``sub·stride + cluster``; each
  corpus code row then scores ALL queries in-row by m map lookups per
  query — no corpus exchange before the (WindowGroupLimit-pruned)
  top-k window. Approximate cosine =
  ADC-dot / (‖q‖ · ‖reconstruction‖), with ‖reconstruction‖² =
  Σ_sub ‖codeword‖² (the subspaces are an orthogonal decomposition).

Float determinism: every cross-engine-checked sum folds in a FIXED
order (per-sub dots left-to-right inside a subspace via the shared
``dot_expr`` fold; across subspaces via an array_sort-by-sub fold) so
the DuckDB oracle reproduces bit-identical doubles — an unordered
SQL ``sum()`` over doubles would be association-order-dependent.

Scale shape: codebooks and ADC tables are k·m- and Q·m·k-entry
broadcasts; the corpus is touched by one map-only pass per train
iteration (whose only exchange carries m·k·d partial means per
partition), one map-only encode pass, and one map-only scoring pass
whose single exchange is the WindowGroupLimit-pruned top-k window.
Nothing is all-pairs; nothing collects the corpus; the corpus itself
never hash-shuffles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongoshake_spark.functions.similarity import (
    assign_nearest_centroid,
    dot_expr,
    with_norm,
)


#: key stride for the flattened (sub, cluster) lookup maps: key =
#: sub * _LUT_STRIDE + cluster. Codeword ids are 0..k_code-1 (init
#: numbers them 0..k-1 and updates only re-emit existing ids), so any
#: stride > k_code is collision-free; 1 << 20 leaves the bound loud.
_LUT_STRIDE = 1 << 20


def _codebook_arr(codebooks: DataFrame) -> DataFrame:
    """The m·k-row codebook collected into ONE array-of-structs row —
    the broadcast side of every in-row nearest-codeword fold."""
    return codebooks.agg(
        F.collect_list(F.struct("sub", "cluster", "centroid")).alias("_cb")
    )


def _best_code(vec_col: str, s: int, d: int):
    """struct<d2, cluster> of the nearest codeword of subspace ``s`` for
    the current row's ``vec_col`` slice, computed in-row against the
    collected ``_cb`` column. The d2 arithmetic (zip_with squared-diff
    fold, round 6) and the (d2, cluster) lexicographic min are exactly
    the old grouped form's, so the winning codeword is bit-identical —
    only the plan shape changes (no per-(vector, sub) shuffle)."""
    sv = F.slice(F.col(vec_col), s * d + 1, d)

    def one(c):
        d2 = F.aggregate(
            F.zip_with(
                sv,
                c["centroid"],
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct(
            F.round(d2, 6).alias("d2"), c["cluster"].alias("cluster")
        )

    return F.array_min(
        F.transform(
            F.filter(F.col("_cb"), lambda c: c["sub"] == F.lit(s)), one
        )
    )


def _sub_rows(
    vecs: DataFrame, m: int, d: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub, sv): the corpus exploded into its m subvectors in-row."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col), s * d + 1, d).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return vecs.select(id_col, F.explode(subs).alias("x")).select(
        id_col, "x.sub", "x.sv"
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
    — m·k rows, localCheckpoint'ed (broadcast-sized, reused by encode
    and every ADC query batch).

    All m subspaces train JOINTLY: one Lloyd chain over (id, sub, sv)
    rows keyed by (sub, cluster) instead of m independent chains —
    identical arithmetic per subspace (same smallest-id init, same
    round(d2,6)/cluster-asc tie-break, same rounded means as
    ``clustering.kmeans_fit``), one update job per iteration for ALL
    subspaces — the nearest-codeword assignment happens IN-ROW inside
    that job (see :func:`_best_code`), so an iteration's only exchange
    carries the m·k·d partial means."""
    return _pq_train_dims(vecs, m, k, iters, id_col, vec_col)[0]


def _pq_train_dims(
    vecs: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, int]:
    """``(codebooks, d)`` — :func:`pq_train` plus the subspace width it
    derived, so in-process callers (pq_topk) skip the codebook-probe
    job that re-infers it."""
    if k < 1 or iters < 1:
        raise ValueError("pq_train: k and iters must be >= 1")
    if k >= _LUT_STRIDE:
        # flattened (sub·stride + cluster) LUT keys are collision-free
        # only while cluster ids stay below the stride; map_from_entries
        # is last-wins, so a collision would silently corrupt ADC scores
        raise ValueError(
            f"pq_train: k_code={k} >= LUT stride {_LUT_STRIDE} — "
            "codeword ids would collide in the flattened ADC lookup maps"
        )
    # init: the k smallest-id vectors, sliced per subspace (k·m rows
    # total, k bounded by the operator's own parameter — the same
    # driver residency clustering._init_centroids has). The dimension
    # comes from the seed rows themselves — the former separate
    # _infer_dim first() was one more full-plan job for a value the
    # seed collect already holds.
    seed_rows = (
        vecs.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if not seed_rows:
        raise ValueError("pq: empty vector table")
    dim = len(seed_rows[0][1])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    d = dim // m
    spark = vecs.sparkSession
    init = spark.createDataFrame(
        [
            (s, i, list(r[1])[s * d : (s + 1) * d])
            for s in range(m)
            for i, r in enumerate(seed_rows)
        ],
        "sub int, cluster int, centroid array<double>",
    )
    cents = init.select(
        "sub",
        "cluster",
        F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
    )
    base = vecs.select(vec_col)
    for _ in range(iters - 1):
        # assignment + update input built IN-ROW (guide §2.4): for each
        # vector and subspace the nearest codeword is an array_min fold
        # over the broadcast collected codebook — the former shape
        # exploded (id, sub, sv) rows, shuffled them through a
        # groupBy(id, sub) argmin and joined the result BACK to the
        # exploded rows (two corpus-sized exchanges per iteration);
        # the per-(sub, cluster, pos) means aggregate below is now the
        # only exchange, and it carries m·k·d rows per upstream
        # partition after map-side combine. The averaged row multiset —
        # and therefore every rounded mean — is identical.
        subbest = F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    _best_code(vec_col, s, d)["cluster"].alias("cluster"),
                    F.slice(F.col(vec_col), s * d + 1, d).alias("sv"),
                )
                for s in range(m)
            ]
        )
        pos = (
            base.crossJoin(F.broadcast(_codebook_arr(cents)))
            .select(F.explode(subbest).alias("x"))
            .select("x.sub", "x.cluster", F.posexplode("x.sv").alias("pos", "val"))
        )
        means = pos.groupBy("sub", "cluster", "pos").agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("mv")
        )
        # truncate the m·k-row centroid lineage per update, like
        # clustering.kmeans_fit does (the last update's checkpoint is
        # the returned frame — no second checkpoint of the same rows)
        cents = (
            means.groupBy("sub", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("centroid")
            )
            .localCheckpoint()
        )
    if iters == 1:
        cents = cents.localCheckpoint(eager=True)
    return cents, d


def pq_encode(
    vecs: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, int] | None = None,
    keep_cols: tuple[str, ...] = (),
    cb_arr: DataFrame | None = None,
) -> DataFrame:
    """(id, *keep_cols, codes array<int>): nearest codeword per
    subspace, codes ordered by subspace index. Distance ties break to
    the smaller cluster id, exactly like ``clustering._assign`` (and
    the oracle).

    Encoding is MAP-ONLY (guide §2.4): each row folds its subvectors
    against the broadcast collected codebook and emits its code array
    directly — the former shape exploded m rows per vector and paid two
    corpus exchanges (groupBy(id, sub) argmin + groupBy(id) re-pack) to
    produce the same array. ``keep_cols`` ride through on the row for
    free (the old shape needed a corpus self-join to re-attach them).
    ``dims=(m, d)`` skips the codebook-probe job when the caller
    already knows the geometry. ``cb_arr``: a pre-built
    :func:`_codebook_arr` frame, aggregated once by callers that encode
    many batches against one frozen codebook (the nearest-codeword
    array_min is order-independent, so reuse is bit-exact)."""
    if dims is not None:
        m, d = dims
    else:
        m_d = codebooks.agg(
            F.max("sub").alias("mx"), F.max(F.size("centroid")).alias("d")
        ).first()
        m, d = int(m_d["mx"]) + 1, int(m_d["d"])
    codes = F.array(
        *[_best_code(vec_col, s, d)["cluster"] for s in range(m)]
    )
    if cb_arr is None:
        cb_arr = _codebook_arr(codebooks)
    return (
        vecs.crossJoin(F.broadcast(cb_arr))
        .select(id_col, *keep_cols, codes.alias("codes"))
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
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k by ADC over PQ codes. Queries score with
    their EXACT vectors against the quantized corpus; pass pre-trained
    ``codebooks`` to reuse a fitted quantizer (the production shape —
    train once, encode incrementally).

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
        codebooks, d = _pq_train_dims(vecs, m, k_code, iters, id_col, vec_col)
    else:
        m_d = codebooks.agg(
            F.max("sub").alias("mx"), F.max(F.size("centroid")).alias("d")
        ).first()
        m, d = int(m_d["mx"]) + 1, int(m_d["d"])
    # per-codeword squared norms: the reconstruction's norm decomposes
    # across the orthogonal subspaces
    cn = codebooks.select(
        "sub", "cluster", F.expr(dot_expr("centroid", "centroid")).alias("cn2")
    )
    unit = with_norm(vecs, vec_col)
    q_subs = _sub_rows(
        unit.filter(F.col(id_col).isin(list(query_ids))), m, d, id_col, vec_col
    ).withColumnRenamed(id_col, "query_id").withColumnRenamed("sv", "qsv")
    qnorm = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col("vnorm").alias("qnorm")
    )
    # ADC lookup tables, flattened to (sub·stride + cluster) -> dsub
    # maps: one per query (collected with qnorm into a single broadcast
    # row) plus one shared cn2 map. Scoring is then IN-ROW over the
    # code scan — m map lookups per (neighbor, query), folded in sub
    # order — where the former shape posexploded m rows per vector,
    # joined the Q·m·k ADC table and re-grouped by (query, neighbor)
    # through a corpus×Q exchange with two collect_list folds. The
    # Python-loop fold below adds the same doubles in the same sub-
    # ascending order as the old array_sort(collect_list(...)) fold, so
    # every cos_sim is bit-identical.
    adc = q_subs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        "cluster",
        F.expr(dot_expr("qsv", "centroid")).alias("dsub"),
    )
    qlut = adc.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("sub") * _LUT_STRIDE + F.col("cluster")).alias("key"),
                    F.col("dsub").alias("value"),
                )
            )
        ).alias("_lut")
    )
    qs = qlut.join(qnorm, "query_id").agg(
        F.collect_list(F.struct("query_id", "_lut", "qnorm")).alias("_qs")
    )
    cnmap = cn.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("sub") * _LUT_STRIDE + F.col("cluster")).alias("key"),
                    F.col("cn2").alias("value"),
                )
            )
        ).alias("_cn")
    )
    codes = pq_encode(vecs, codebooks, id_col, vec_col, dims=(m, d))

    def lut_sum(lut_col):
        expr = F.lit(0.0)
        for s in range(m):
            expr = expr + F.element_at(
                lut_col,
                F.lit(s * _LUT_STRIDE) + F.element_at(F.col("codes"), s + 1),
            )
        return expr

    out = (
        codes.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(cnmap))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "codes",
            F.explode("_qs").alias("q"),
            "_cn",
        )
        .filter(F.col("neighbor_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            "neighbor_id",
            F.round(
                lut_sum(F.col("q._lut"))
                / (F.col("q.qnorm") * F.sqrt(lut_sum(F.col("_cn")))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    if rerank is not None:
        qv = unit.filter(F.col(id_col).isin(list(query_ids))).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.col("vnorm").alias("_qn"),
        )
        out = _exact_rerank(
            out, w, unit, qv, rerank, k, id_col, vec_col, "pq_topk"
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

    Scale shape: coarse assignment is one broadcast-centroid aggregate;
    residual train/encode are the pq_train/pq_encode passes (map-only +
    k·m-row model state); the scoring pass reads m-byte codes of the
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
    # the centroid table is MODEL-sized (|corpus| / centroid_mod rows)
    # but derived from a corpus scan — without the eager checkpoint
    # every consumer re-ran that scan (the assignment broadcast, the
    # probe broadcast, the query-context broadcast, the cross-term
    # build: ~5 corpus scans per query for a KB-scale table). One
    # materialization, every reuse reads the checkpointed rows
    # (guide §1.2/§2.3; same pin streaming_ann_ingest holds).
    cents = (
        unit.filter((F.col(id_col) % centroid_mod) == 0)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.col("vnorm").alias("cnorm"),
        )
        .localCheckpoint(eager=True)
    )
    # one driver action validates the centroid sample AND infers the
    # dimension (centroids are corpus rows, same dim) — isEmpty +
    # _infer_dim would be two scans' worth of job-launch latency
    cent_probe = cents.select(F.size("cvec").alias("d")).first()
    if cent_probe is None:
        raise ValueError(
            f"ivfpq_topk: no {id_col} divisible by {centroid_mod} — "
            "choose a centroid_mod matching the corpus id space"
        )
    dim = int(cent_probe["d"])
    if dim % m != 0:
        raise ValueError(f"ivfpq_topk: dim {dim} not divisible by m={m}")
    d = dim // m
    # persist, NOT an eager localCheckpoint: checkpointing an AQE
    # plan can materialize at ~2 coalesced partitions, which would
    # serialize every downstream Lloyd pass and the code scan; the
    # cache keeps full stage width (blocks LRU-evict under pressure)
    res = ivfpq_assign_residuals(unit, cents, id_col, vec_col).persist()
    res.count()  # materialize once for train + encode + the cell map
    codebooks = pq_train(res, m, k_code, iters, id_col, "res")
    # cell rides through the map-only encode — the former
    # `.join(res.select(id, cell), id)` re-attached it with a
    # corpus-sized shuffle of both sides
    codes = pq_encode(
        res, codebooks, id_col, "res", dims=(m, d), keep_cols=("cell",)
    )
    queries = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    return ivfadc_score(
        codes,
        cents,
        codebooks,
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
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    cents_arr: DataFrame | None = None,
) -> DataFrame:
    """(id, cell, res) — nearest-cell assignment plus the residual
    ``v - centroid(cell)`` that IVFADC quantizes. Shared by the batch
    :func:`ivfpq_topk` and the streaming ingest encoder
    (streaming/ann_ingest) so a vector encodes IDENTICALLY whether it
    arrived in the training corpus or in a later micro-batch.
    ``cents_arr``: optional pre-aggregated one-row centroid array
    (see similarity.collect_centroid_arr) for many-batch callers."""
    assigned = assign_nearest_centroid(
        unit, cents, vec_col, id_col, carry=(vec_col,), cents_arr=cents_arr
    )
    return assigned.join(
        F.broadcast(cents.select(F.col("cid").alias("cell"), "cvec")), "cell"
    ).select(
        id_col,
        "cell",
        F.zip_with(
            F.col(vec_col),
            F.col("cvec"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ).alias("res"),
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

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        MapType,
        StructField,
        StructType,
    )

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
