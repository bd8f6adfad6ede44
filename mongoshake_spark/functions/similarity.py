"""Embedding similarity search over the ``embeddings`` table
(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).

- ``cosine_expr``   : exact cosine as a sequential-double fold — runs
                      JVM-side (higher-order functions, no UDF) and is
                      bit-identical to the DuckDB oracle's list_reduce.
- ``brute_topk``    : baseline exact top-k — broadcast the (small) query
                      set, stream the corpus once, per-query window rank.
                      At 100 TB the corpus side stays partition-parallel
                      with no shuffle until the (tiny) top-k aggregation.
- ``neardup_pairs`` : threshold self-join (embedding near-duplicate
                      detection). The scale path is ``lsh_buckets`` —
                      random-hyperplane signatures bucket the corpus so the
                      self-join is per-bucket instead of |corpus|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from mongoshake_spark.functions.texthash import MOD


def dot_expr(a: str, b: str) -> str:
    """Sequential left-to-right double fold => deterministic and identical
    to DuckDB's list_reduce over the same casts."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> str:
    return f"sqrt({dot_expr(a, a)})"


def cosine_expr(a: str, b: str) -> str:
    return f"{dot_expr(a, b)} / ({norm_expr(a)} * {norm_expr(b)})"


def with_norm(
    vecs: DataFrame, vec_col: str = "embedding", drop_zero: bool = True
) -> DataFrame:
    """Adds ``vnorm``. ``drop_zero`` (default) excludes zero-norm vectors:
    they have no direction, their cosine against anything is 0/0 = NaN,
    and Spark ranks NaN ABOVE every real double — one zero embedding
    (padding row, failed encode) would otherwise become the rank-1
    neighbor of every query and pair with everything in threshold scans.
    The fixture corpus has no zero vectors, so the oracles are unaffected;
    on real data dropping them is the correct reading of 'nearest'.

    The input is scan-fanned first (operators/parallel.fan_out_scan, a
    no-op whenever the scan already has >= cores/2 splits): every consumer
    of the normed corpus burns CPU map-side — dot products against
    broadcast centroids/queries, block matmuls — so an under-partitioned
    embeddings file would otherwise serialize the whole ANN family on one
    task (measured 1.3-1.8x on ivf/semantic/cosine at sf0.1)."""
    from mongoshake_spark.operators.parallel import fan_out_scan

    out = fan_out_scan(vecs).withColumn("vnorm", F.expr(norm_expr(vec_col)))
    return out.filter(F.col("vnorm") > 0) if drop_zero else out


def brute_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, rank per query.
    Deterministic tiebreak (cosine desc, neighbor id asc)."""
    # Norms are materialized per side BEFORE the join so the pair stage
    # evaluates one dot-product fold, not three (cosine_expr would inline
    # the fold for dot, |a| and |b| on every pair).
    unit = with_norm(vecs, vec_col)
    queries = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    corpus = unit.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("vnorm").alias("cnorm"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(dot_expr("qvec", "cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _band_planes(n_bands: int, band_planes: int, dim: int):
    """Deterministic hyperplane matrix for the BANDED LSH prebucket:
    (n_bands*band_planes, dim) components in [-0.5, 0.5) from a SplitMix64
    finalizer over the dense (plane, component) index. Unlike the
    linear-congruential formula in :func:`lsh_buckets` (kept there for
    oracle portability), the 64-bit avalanche makes every band's planes
    statistically independent — consecutive LCG planes differ by a
    constant vector, so extra LCG bands add almost no new recall
    (measured: misses stop improving past ~8 bands)."""
    import numpy as np

    ks = np.arange(n_bands * band_planes * dim, dtype=np.uint64)
    z = ks * np.uint64(0x9E3779B97F4A7C15) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z.astype(np.float64) / 2.0**64 - 0.5).reshape(
        n_bands * band_planes, dim
    )


def neardup_pairs(
    vecs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tiles: int = 8,
    prebucket: str | None = None,
    n_bands: int = 8,
    band_planes: int = 16,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= num/den (exact all-pairs).

    Distributed block matrix multiply — NO driver materialization and no
    broadcast of the corpus. Each vector is hashed to one of ``n_tiles``
    tiles; every unordered tile pair (lo, hi) becomes one ``applyInPandas``
    group holding exactly those two tiles, and the group computes its
    A @ Bᵀ block with vectorized numpy. Every id pair lands in exactly one
    group (the pair of its tiles), so recall is exact and no dedup pass is
    needed.

    Cost model: shuffle = |corpus| × n_tiles rows (each row joins one group
    per opposing tile); peak task memory = 2 tiles. Size
    ``n_tiles ≈ N·dim·8B / 1 GiB`` so a tile fits an executor — the O(N²)
    dot-product work is inherent to the *exact* variant, spreads over
    T(T+1)/2 independent tasks, and the tile sizing rule makes shuffle
    volume grow superlinearly with the corpus.

    ``prebucket='lsh'`` is that cost model's 100 TB escape hatch, composed
    directly (round-10 advice — previously documented but
    assembly-required): banded random-hyperplane LSH -> within-bucket
    exact rescoring -> cross-band dedup, as ONE operator. ``n_bands``
    independent sign-signatures of ``band_planes`` hyperplanes each
    (deterministic SplitMix64 seeds, :func:`_band_planes`); a pair is
    compared iff it collides in >= 1 band, so shuffle = |corpus| ×
    n_bands rows into 2^band_planes buckets per band — CONSTANT
    replication regardless of corpus size, and the quadratic term drops
    to per-bucket. Recall is the standard banded-LSH S-curve
    1-(1-s^r)^T, tunable to ~1 at any target threshold; the registry
    query pins recall == exact on the fixture against the brute-force
    oracle. Defaults (16 planes -> 65k buckets/band, 8 bands) target
    production thresholds (cos >= 0.9); LOWER thresholds need coarser
    buckets (fewer planes, more bands) — collision probability per
    plane is 1 - angle/pi, e.g. the fixture's 0.45 threshold uses
    band_planes=3, n_bands=24.

    The threshold test mirrors the oracle's integer-scaled form
    (dot*den >= num*na*nb). BLAS summation order differs from the oracle's
    sequential fold by ~1e-15 relative — far below the round(6) output
    granularity and the threshold measure of the data.

    REQUIRES ``id_col`` values to be UNIQUE across the corpus: row identity
    is keyed on the id (self-pairs are excluded by id inequality, and
    same-tile blocks dedup canonicalized id pairs) — under duplicate ids,
    genuine pairs of distinct rows sharing an id are silently dropped and
    distinct same-tile pairs collapse.
    """
    import numpy as np
    import pandas as pd

    if prebucket is not None:
        if prebucket != "lsh":
            raise ValueError(
                f"neardup_pairs: unknown prebucket {prebucket!r} — None "
                "(exact tiled) or 'lsh' (banded approximate)"
            )
        return _neardup_pairs_lsh(
            vecs,
            threshold_num,
            threshold_den,
            vec_col,
            id_col,
            n_bands,
            band_planes,
        )

    replicated = (
        vecs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("_t", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_tiles)).cast("int"))
        .withColumn("_u", F.explode(F.sequence(F.lit(0), F.lit(n_tiles - 1))))
        .select(
            F.least("_t", "_u").alias("_lo"),
            F.greatest("_t", "_u").alias("_hi"),
            "_t",
            "_id",
            "_vec",
        )
    )

    def block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(key[0]), int(key[1])
        a = pdf[pdf["_t"] == lo]
        b = pdf[pdf["_t"] == hi] if hi != lo else a
        if a.empty or b.empty:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cos_sim": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cos_sim": "float64"}
            )
        a_ids = a["_id"].to_numpy()
        b_ids = b["_id"].to_numpy()
        a_mat = np.array(a["_vec"].tolist(), dtype=np.float64)
        b_mat = np.array(b["_vec"].tolist(), dtype=np.float64)
        a_norm = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
        dots = a_mat @ b_mat.T
        norms = np.outer(a_norm, b_norm)
        # norms > 0: a zero-norm vector (padding row, failed encode) turns
        # the threshold test into 0 >= 0 against EVERYTHING and its cosine
        # into NaN — one bad row would flood the pair graph
        keep = (
            (dots * threshold_den >= threshold_num * norms)
            & (norms > 0)
            & (a_ids[:, None] != b_ids[None, :])
        )
        ai, bi = np.nonzero(keep)
        lo_ids, hi_ids = np.minimum(a_ids[ai], b_ids[bi]), np.maximum(a_ids[ai], b_ids[bi])
        out = pd.DataFrame(
            {
                "doc_a": lo_ids,
                "doc_b": hi_ids,
                "cos_sim": np.round(dots[ai, bi] / (a_norm[ai] * b_norm[bi]), 6),
            }
        )
        # same-tile blocks see each (x, y) twice (once as (x,y), once as
        # (y,x)) — canonicalized above, dedup here; cross-tile blocks don't.
        return out.drop_duplicates(["doc_a", "doc_b"]) if hi == lo else out

    return replicated.groupBy("_lo", "_hi").applyInPandas(
        block, schema="doc_a bigint, doc_b bigint, cos_sim double"
    )


def _neardup_pairs_lsh(
    vecs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    vec_col: str,
    id_col: str,
    n_bands: int,
    band_planes: int,
) -> DataFrame:
    """Banded-LSH near-dup path (see :func:`neardup_pairs` ``prebucket``):
    one mapInPandas pass signs every vector against all bands' planes (a
    single ``V @ planesᵀ`` per Arrow batch) and emits (band, bucket, id,
    vec) — n_bands rows per vector, NO tile-count-scaled explode; one
    shuffle groups (band, bucket); a vectorized block rescans each bucket
    exactly; ``dropDuplicates`` collapses pairs colliding in several
    bands (cos identical — same two vectors, same dot)."""
    import numpy as np
    import pandas as pd

    row = vecs.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            "neardup_pairs(prebucket='lsh') cannot infer the vector dim "
            "(empty input or NULL first vector)"
        )
    dim = len(row[0])
    planes = _band_planes(n_bands, band_planes, dim)
    weights = np.int64(1) << np.arange(band_planes, dtype=np.int64)

    def sign_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            signs = (mat @ planes.T) > 0  # rows x (n_bands*band_planes)
            out = []
            for b in range(n_bands):
                bucket = (
                    signs[:, b * band_planes : (b + 1) * band_planes] * weights
                ).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "_band": np.full(len(pdf), b, dtype=np.int32),
                            "_bucket": bucket,
                            "_id": pdf[id_col].to_numpy(),
                            "_vec": pdf[vec_col],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # _vec rides the shuffle as array<double>: float32 inputs widen
    # exactly, and double inputs keep full precision so the within-bucket
    # exact rescore scores IDENTICALLY to the prebucket=None tiled path
    # (both build float64 matrices) — a float32 schema here made
    # near-threshold pairs and cos_sim values diverge between the modes
    # for array<double> corpora
    from mongoshake_spark.operators.parallel import fan_out_scan

    # the sign pass (V @ planes-T per Arrow batch) is the lane's heavy
    # pre-shuffle stage and runs at SCAN width — one task on an
    # under-split embeddings file (probed 1.0 s single-task at sf0.1);
    # row-wise, so the fan-out is result-invariant
    keyed = fan_out_scan(vecs.select(id_col, vec_col)).mapInPandas(
        sign_batches,
        schema="_band int, _bucket bigint, _id bigint, _vec array<double>",
    )

    def bucket_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        mat = np.array(pdf["_vec"].tolist(), dtype=np.float64)
        norm = np.sqrt((mat * mat).sum(axis=1))
        dots = mat @ mat.T
        norms = np.outer(norm, norm)
        keep = (
            (dots * threshold_den >= threshold_num * norms)
            & (norms > 0)
            & (ids[:, None] < ids[None, :])
        )
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {
                "doc_a": ids[ai],
                "doc_b": ids[bi],
                "cos_sim": np.round(dots[ai, bi] / (norm[ai] * norm[bi]), 6),
            }
        )

    return (
        keyed.groupBy("_band", "_bucket")
        .applyInPandas(
            bucket_block, schema="doc_a bigint, doc_b bigint, cos_sim double"
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


#: ceiling on a frozen :class:`CentroidTable` (cells·dim doubles, 32
#: MiB): the table is collected to the driver and pickled into every
#: assignment task, so an unbounded sample or k fails here, loudly
_CENTROID_MAX_ENTRIES = 1 << 22


class CentroidTable:
    """A frozen coarse quantizer: ``cids`` (k,) ascending, ``cvecs``
    (k, d) doubles and their norms ``cnorms``, collected once on the
    driver under ``_CENTROID_MAX_ENTRIES`` and shipped to tasks inside
    their closures. A zero-norm centroid has no direction and is
    dropped, as :func:`with_norm` drops zero-norm vectors."""

    def __init__(self, frame: DataFrame, who: str):
        """The table of ``frame``'s first two columns, ``(cid, cvec)``
        — one collect (none for a local relation). The norms are
        ``vec.fold_dot`` folds, bit-identical to ``norm_expr``."""
        import numpy as np

        from mongoshake_spark.functions import vec

        cid, cvec = frame.columns[:2]
        self.cid_field = StructField("cid", frame.schema[cid].dataType)
        self.cvec_field = StructField("cvec", frame.schema[cvec].dataType)
        rows = frame.select(cid, cvec).collect()
        dim = next((len(r[1]) for r in rows if r[1] is not None), 0)
        vec.check_ceiling(who + " centroids", len(rows) * dim, _CENTROID_MAX_ENTRIES)
        cvecs = vec.rows_matrix(rows, cid, cvec, dim, who)
        cnorms = np.sqrt(vec.fold_dot(cvecs, cvecs))
        cids = np.array([r[0] for r in rows])
        order = np.argsort(cids, kind="stable")
        order = order[cnorms[order] != 0]
        self.cids, self.cvecs, self.cnorms = cids[order], cvecs[order], cnorms[order]
        self.dim = dim

    @classmethod
    def sample(
        cls, vecs: DataFrame, centroid_mod: int, id_col: str, vec_col: str, who: str
    ) -> "CentroidTable":
        """The deterministic id-sample of an untrained IVF: every vector
        whose ``id % centroid_mod == 0`` (reproducible across engines
        without RNG state). An id space with no multiple of
        ``centroid_mod`` would empty the assignment and silently return
        nothing, so it raises instead."""
        table = cls(
            vecs.filter((F.col(id_col) % centroid_mod) == 0).select(id_col, vec_col),
            who,
        )
        if not len(table.cids):
            raise ValueError(
                f"{who}: no centroids — no {id_col} divisible by "
                f"{centroid_mod}; choose a centroid_mod matching the corpus "
                "id space"
            )
        return table

    def to_frame(self, spark) -> DataFrame:
        """``(cid, cvec, cnorm)``, one row per centroid, as a local
        relation with the collected column types."""
        return spark.createDataFrame(
            [
                (c.item(), v.tolist(), float(n))
                for c, v, n in zip(self.cids, self.cvecs, self.cnorms)
            ],
            StructType(
                [self.cid_field, self.cvec_field, StructField("cnorm", DoubleType())]
            ),
        )


def _cell_pass(
    unit: DataFrame,
    centroids,
    vec_col: str,
    id_col: str,
    carry: tuple[str, ...],
    residual: bool,
    who: str,
) -> DataFrame:
    """One ``mapInArrow`` pass of ``vec.cell_batches`` over ``unit``
    against the frozen table: ``(id_col, *carry, cell[, res])``."""
    from functools import partial

    from pyspark.sql.pandas.types import to_arrow_type

    from mongoshake_spark.functions import vec

    table = (
        centroids
        if isinstance(centroids, CentroidTable)
        else CentroidTable(centroids.select("cid", "cvec"), who)
    )
    fields = [unit.schema[c] for c in (id_col, *carry)]
    fields.append(StructField("cell", table.cid_field.dataType))
    if residual:
        fields.append(StructField("res", ArrayType(DoubleType())))
    return unit.select(*dict.fromkeys([id_col, *carry, vec_col, "vnorm"])).mapInArrow(
        partial(
            vec.cell_batches, cents=table.cvecs, cnorm=table.cnorms,
            cids=table.cids, cell_type=to_arrow_type(table.cid_field.dataType),
            id_col=id_col, vec_col=vec_col, keep_cols=carry,
            residual=residual, who=who,
        ),
        StructType(fields),
    )


def assign_nearest_centroid(
    unit: DataFrame,
    centroids: DataFrame | CentroidTable,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid cell assignment — the ONE implementation shared by
    :func:`ivf_assign`, :func:`ivf_topk`, :func:`semantic_neardup` and
    the IVF-PQ residuals (the (cs desc, cid asc) order must stay
    bit-identical to every oracle's ``row_number ORDER BY cs DESC,
    cid``, so it lives in exactly one place: ``vec.nearest_cosine``).
    ``unit`` carries ``vnorm`` (see :func:`with_norm`); ``centroids`` is
    a :class:`CentroidTable` or a ``(cid, cvec, …)`` frame, collected
    once here. The argmax is one map-only ``mapInArrow`` pass over the
    frozen table: the corpus never shuffles, and ``carry`` columns stay
    on the row. A null, wrong-length or null-element embedding raises
    ``ValueError`` naming its id. Returns ``(id_col, *carry, cell)``."""
    return _cell_pass(
        unit, centroids, vec_col, id_col, carry, False, "assign_nearest_centroid"
    )


def ivf_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF cell assignment: each vector joins its nearest centroid by
    cosine (tiebreak: lower centroid id). Thin wrapper over
    :func:`assign_nearest_centroid` that derives the vector norms;
    ``centroids`` needs only (cid, cvec). Returns ``(id_col, cell)``."""
    unit = with_norm(vecs.select(F.col(id_col), F.col(vec_col)), vec_col)
    return assign_nearest_centroid(unit, centroids, vec_col, id_col)


def ivf_topk(
    vecs: DataFrame,
    query_ids,
    k: int = 5,
    n_probe: int = 2,
    centroid_mod: int = 29,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: centroids are a deterministic sample of
    the corpus (``id % centroid_mod == 0`` — the "random sample" init of a
    trained IVF index, reproducible across engines without RNG state), the
    corpus is partitioned into cells by nearest centroid, and each query
    probes only its ``n_probe`` nearest cells.

    ``centroids`` swaps in a TRAINED coarse quantizer instead of the
    sample: a ``(cid, cvec)`` DataFrame (any id/vector column names, in
    that order — e.g. ``kmeans_fit``'s ``(cluster, centroid)`` output).
    Trained centroids concentrate true neighbors into fewer probed cells
    (scripts/ann_recall_proof.py measures the recall gain).

    Scale shape: the centroids are a frozen :class:`CentroidTable` (one
    collect, under its ceiling) and the probe map is tiny and broadcast;
    the only corpus-sized operations are one map-only ``mapInArrow``
    cell assignment and one broadcast semi-join restricting the scan to
    probed cells — candidate scoring touches |probed cells| of the
    corpus instead of all of it. The final top-k window partitions by
    query_id (small side)."""
    unit = with_norm(vecs, vec_col)
    if centroids is not None:
        table = CentroidTable(centroids, "ivf_topk")
        if not len(table.cids):
            raise ValueError("ivf_topk: trained centroid table is empty")
    else:
        table = CentroidTable.sample(unit, centroid_mod, id_col, vec_col, "ivf_topk")
    centroids = table.to_frame(unit.sparkSession)
    # cell assignment carrying the vector+norm on the row (no corpus
    # self-join with ivf_assign's (id, cell) output)
    assigned = assign_nearest_centroid(
        unit, table, vec_col, id_col, carry=(vec_col, "vnorm")
    )
    queries = unit.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    # probe map: per query, the n_probe nearest centroids (query set is
    # small — a driver-free window over |queries| x |centroids| rows)
    probe_scored = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "cid",
        F.expr(dot_expr("qvec", "cvec")).alias("dot"),
        (F.col("qnorm") * F.col("cnorm")).alias("nn"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        (F.col("dot") / F.col("nn")).desc(), F.col("cid").asc()
    )
    probes = (
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", F.col("cid").alias("cell"))
    )
    # candidates: corpus rows whose cell is probed by some query
    cand = (
        assigned.join(
            F.broadcast(probes),
            "cell",
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.col("vnorm").alias("cnorm"),
        )
    )
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(dot_expr("qvec", "cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
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


def lsh_buckets(
    vecs: DataFrame,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH signature (the ANN scale path): sign pattern of
    ``n_planes`` pseudo-random hyperplanes -> one integer bucket. Vectors in
    the same bucket are near-duplicate candidates; the self-join then runs
    per bucket. Hyperplane components are deterministic pseudo-randoms
    derived from (plane, dim) by a multiplicative hash — reproducible across
    runs and engines, no RNG state.

    plane[p][d] = ((1103515245 * (p * dim + d) + 12345) % MOD) / MOD - 0.5

    (dim-dependent by design: the plane seed enumerates (plane, component)
    pairs densely, so the SAME corpus at a different dim buckets
    differently — an oracle or second implementation must use the actual
    dim, exactly as the formula states.)

    Vectorized mapInPandas: one numpy ``A @ planesᵀ`` per Arrow batch.
    (The equivalent 16-fold column expression is correct too but costs
    seconds of generated-code compilation per session; BLAS summation
    differs from a sequential fold only ~1e-15 relatively, far from the
    sign threshold for any realistic vector.)
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        # fallback probe — one driver row-fetch (an extra Spark job); pass
        # ``dim`` explicitly on hot paths to skip it
        row = vecs.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "lsh_buckets cannot infer the vector dim (empty input or "
                "NULL first vector) — pass dim explicitly"
            )
        dim = len(row[0])
    planes = np.array(
        [
            [((1103515245 * (p * dim + d) + 12345) % MOD) / MOD - 0.5 for d in range(dim)]
            for p in range(n_planes)
        ]
    )
    weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)

    def bucket_batches(batches):
        for pdf in batches:
            a = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            dots = a @ planes.T
            buckets = ((dots > 0) * weights).sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], "bucket": buckets}
            )

    return vecs.select(id_col, vec_col).mapInPandas(
        bucket_batches, schema=f"{id_col} bigint, {vec_col} array<float>, bucket bigint"
    )


def semantic_neardup(
    vecs: DataFrame,
    threshold_num: int = 7,
    threshold_den: int = 20,
    centroid_mod: int = 29,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDedup-shaped semantic deduplication (Abbas et al. 2023): cluster
    the corpus by nearest centroid, then emit near-duplicate pairs ONLY
    within each cluster — ``(doc_a, doc_b, cell, cos_sim)`` with cosine >=
    num/den. Downstream, :func:`mongoshake_spark.functions.dedup.
    duplicate_clusters` + a keep-one policy completes the pipeline, same
    as the other candidate-pair families.

    Centroids are the deterministic corpus sample (``id % centroid_mod ==
    0`` — reproducible across engines without RNG state, the same init as
    :func:`ivf_topk`). vs the exact all-pairs :func:`neardup_pairs`: the
    O(N²) dot-product work drops to sum over cells of O(|cell|²) — with K
    balanced cells that is a K× reduction, the entire point of SemDedup at
    100 TB — at the cost of missing cross-cell pairs (the published
    trade-off; the oracle replays the identical clustering so the recall
    loss is part of the pinned contract).

    Scale shape: cell assignment is one map-only ``mapInArrow`` pass over
    the frozen centroid sample (no shuffle); pair generation is one
    shuffle of the corpus partitioned BY CELL and a vectorized numpy block
    per cell (Arrow batches, no Python-per-row). A degenerate giant cell
    re-concentrates the quadratic cost — pick centroid density so cells
    fit a task, or pre-split hot cells like the SimHash hot-bucket cap.
    """
    import numpy as np
    import pandas as pd

    unit = with_norm(vecs, vec_col)
    centroids = CentroidTable.sample(
        unit, centroid_mod, id_col, vec_col, "semantic_neardup"
    )
    assigned = assign_nearest_centroid(
        unit, centroids, vec_col, id_col, carry=(vec_col,)
    ).withColumnRenamed(id_col, "_id")

    def block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_a": [], "doc_b": [], "cell": [], "cos_sim": []}
        ).astype(
            {"doc_a": "int64", "doc_b": "int64", "cell": "int64", "cos_sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norm = np.sqrt((mat * mat).sum(axis=1))
        dots = mat @ mat.T
        norms = np.outer(norm, norm)
        # norms > 0: see neardup_pairs — zero-norm rows must not pair
        keep = (
            (dots * threshold_den >= threshold_num * norms)
            & (norms > 0)
            & (ids[:, None] < ids[None, :])
        )
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {
                "doc_a": ids[ai],
                "doc_b": ids[bi],
                "cell": np.full(len(ai), int(key[0]), dtype="int64"),
                "cos_sim": np.round(dots[ai, bi] / (norm[ai] * norm[bi]), 6),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        block, schema="doc_a bigint, doc_b bigint, cell bigint, cos_sim double"
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_vecs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic train/test decontamination: flag every corpus vector whose
    cosine against ANY held-out eval vector reaches ``num/den`` — the
    embedding-space complement of the n-gram overlap check
    (functions/curation.decontaminate): paraphrased eval material shares
    no 5-gram but still sits next to the eval set in embedding space.

    Returns one row per CORPUS vector — ``(id, n_hits, contaminated)``
    with ``n_hits`` the count of eval vectors above threshold (zero-hit
    rows included, so a keep-set built as ``filter(~contaminated)``
    cannot silently lose rows). Exception: zero-norm corpus vectors are
    excluded entirely (``with_norm``'s documented drop — they have no
    direction, so "semantically near the eval set" is undefined for
    them); a keep-set wanting them back must re-union by id.

    Scale shape: the eval side is benchmark-sized by contract, so it
    BROADCASTS (with pre-materialized norms) and the corpus side is never
    shuffled at corpus width — the pair stage is a map-side broadcast
    nested-loop, the hit filter runs before any aggregation, and only HIT
    pairs (naturally rare at a meaningful threshold) reach the per-id
    count; the final totals⋈hits join broadcasts the tiny hit side under
    AQE. The threshold compares in the integer-scaled form
    ``dot*den >= num*|a|*|b|`` with a sequential JVM fold for the dot —
    bit-identical to the oracle's ``list_reduce``, so the boundary is
    exact, not BLAS-approximate. For an eval side too large to broadcast,
    use ``neardup_pairs``'s tile machinery instead.
    """
    c = with_norm(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("vnorm")
    )
    e = with_norm(eval_vecs, vec_col).select(
        F.col(vec_col).alias("_evec"), F.col("vnorm").alias("_enorm")
    )
    dot = F.expr(dot_expr(vec_col, "_evec"))
    hit = dot * F.lit(int(threshold_den)) >= (
        F.lit(int(threshold_num)) * F.col("vnorm") * F.col("_enorm")
    )
    hits = (
        c.crossJoin(F.broadcast(e))
        .filter(hit)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        c.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )
