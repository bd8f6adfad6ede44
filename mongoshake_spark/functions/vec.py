"""Bit-exact numpy kernels for the vector plane: PQ, k-means and IVF.

Each kernel replays, over whole row blocks at once, the arithmetic the
Spark SQL expressions of the vector plane perform one row at a time, so
a ``mapInArrow`` pass built on them returns the same doubles the
higher-order-function plans (and the DuckDB oracles) return:

- :func:`fold_dot` — ``similarity.dot_expr``: ``acc = acc + a_j * b_j``
  from 0.0, left to right over the last axis. Vectorized across rows,
  sequential across dimensions: each step is one IEEE multiply and one
  IEEE add, as in the JVM fold. BLAS (``X @ q``), ``np.dot`` and
  ``np.sum`` reassociate the sum and do NOT match it (a BLAS matmul
  differed in the last bits on 1320 of 2000 rows of the fixture).
- :func:`fold_sqdiff` — the squared-L2 fold of the nearest-codeword
  search, ``acc + (x - y) * (x - y)`` in the same order.
- :func:`spark_round` — Spark's ``round(double, 6)``:
  ``BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()``,
  i.e. HALF_UP on the shortest decimal repr of ``x``. ``np.round`` is
  half-even on the binary value, so it differs on decimal ties.
- :func:`nearest_code` — ``array_min`` over ``(round(d2, 6), cluster)``
  structs: the smallest rounded distance, ties to the smaller cluster
  id, NaN ordered above every number (Spark's double ordering). PQ
  encodes with it per subspace; k-means is its one-subspace case.
- :func:`nearest_cosine` — ``array_max`` over ``(cs, -cid)`` structs:
  the IVF cell of a vector, the largest cosine, ties to the smaller
  cell id, NaN above every number.
- :func:`adc_sum` — the per-subspace LUT lookups of ADC scoring, folded
  in subspace order.
- :func:`topk_desc` — the ``ORDER BY score DESC, id ASC`` order of the
  ranking window (NaN first), cut to the first ``k``.
- :func:`exact_sum_parts` — a sum kept exact across partitions, so a
  distributed mean does not depend on how the rows are split.

The Arrow batch kernels at the end (:func:`encode_batches`,
:func:`lloyd_partials`, :func:`assign_batches`, :func:`cell_batches`,
:func:`adc_topk`) are the bodies of the vector plane's ``mapInArrow``
passes. Nothing here touches Spark: the callers in
``functions/quantization``, ``functions/clustering`` and
``functions/similarity`` own every collect and every plan, and each
frozen model they collect sits under a declared ceiling
(:func:`check_ceiling`).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

#: enough digits to quantize any finite double (|x| < 1.8e308) to 6
#: decimals without an InvalidOperation
_DEC_CTX = Context(prec=400)
_MICRO = Decimal("1e-6")
#: |x * 10^6| below this keeps the scaled value's error (<= 2^-13)
#: far inside the near-tie window below
_FAST_MAX = float(2**40)
#: scaled values whose fraction is this close to .5 take the exact path
_TIE_EPS = 1e-3
#: rows per block of :func:`nearest_cosine`: bounds its (rows, cells)
#: score matrix, whatever the Arrow batch size
_ROW_BLOCK = 1024


def check_ceiling(what: str, entries: int, cap: int) -> None:
    """Fail loudly when a driver-resident model table exceeds its cap."""
    if entries > cap:
        raise ValueError(
            f"{what}: {entries} entries exceed the driver-residency "
            f"ceiling {cap} — the table is collected to the driver and "
            "shipped to every task by design; shrink the model or the query set"
        )


def fold_dot(a, b) -> np.ndarray:
    """Dot product over the last axis of broadcast-compatible ``a`` and
    ``b``, folded left to right from 0.0 (``dot_expr``'s arithmetic)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc = acc + a[..., j] * b[..., j]
    return acc


def fold_sqdiff(a, b) -> np.ndarray:
    """Squared L2 distance over the last axis, folded left to right
    from 0.0 as ``acc + (x - y) * (x - y)``."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        diff = a[..., j] - b[..., j]
        acc = acc + diff * diff
    return acc


def _round_exact(x: float) -> float:
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(_MICRO, rounding=ROUND_HALF_UP, context=_DEC_CTX)
    return float(q) + 0.0


def spark_round(x) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles, elementwise.

    Away from a decimal tie every rounding mode agrees, and the result
    ``N / 10^6`` is one correctly rounded division — exactly what
    ``BigDecimal.doubleValue`` computes for ``|N| < 2^52``. Values whose
    scaled fraction lies within ``_TIE_EPS`` of .5, large magnitudes and
    non-finite values go through the exact ``Decimal`` path instead.
    ``+ 0.0`` turns ``-0.0`` into ``0.0``, as ``BigDecimal`` does."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(invalid="ignore", over="ignore"):
        t = x * 1e6
        out = np.rint(t) / 1e6 + 0.0
        frac = np.abs(t - np.trunc(t))
        slow = ~(np.abs(t) < _FAST_MAX) | (np.abs(frac - 0.5) < _TIE_EPS)
    if slow.any():
        out = np.array(out)
        flat_x, flat_out = x.reshape(-1), out.reshape(-1)
        for i in np.flatnonzero(slow.reshape(-1)):
            flat_out[i] = _round_exact(float(flat_x[i]))
    return out


def nearest_code(sv, codebook, mask) -> np.ndarray:
    """(n,) int32 codeword ids: for each row of ``sv`` (n, d), the
    existing codeword of ``codebook`` (k, d) (``mask`` (k,) True where it
    exists) with the smallest ``round(d2, 6)``; equal distances go to the
    smaller id and NaN ranks above every number."""
    d2 = spark_round(fold_sqdiff(sv[:, None, :], codebook[None, :, :]))
    best = np.full(d2.shape[0], -1, dtype=np.int32)
    best_d = np.full(d2.shape[0], np.nan)
    for c in np.flatnonzero(mask):
        d = d2[:, c]
        better = (best < 0) | (d < best_d) | (np.isnan(best_d) & ~np.isnan(d))
        best[better] = c
        best_d[better] = d[better]
    return best


def nearest_cosine(x, xnorm, cents, cnorm) -> np.ndarray:
    """(n,) row indices into ``cents`` (k >= 1, d), whose rows are in
    ascending cell-id order: for each row of ``x`` (n, d) with norm
    ``xnorm``, the centroid of the largest cosine
    ``fold_dot(x, c) / (xnorm * cnorm)``. Equal cosines go to the
    earlier row (the smaller id), ``-0.0`` equals ``0.0`` and NaN ranks
    above every number, as Spark orders ``(cs, -cid)`` structs;
    ``np.argmax`` returns the first maximum and the first NaN."""
    best = np.empty(x.shape[0], dtype=np.int64)
    for lo in range(0, x.shape[0], _ROW_BLOCK):
        hi = lo + _ROW_BLOCK
        with np.errstate(invalid="ignore", divide="ignore"):
            cs = fold_dot(x[lo:hi, None, :], cents[None]) / (
                xnorm[lo:hi, None] * cnorm[None]
            )
        best[lo:hi] = np.argmax(cs, axis=1)
    return best


def encode(x, codebook, mask) -> np.ndarray:
    """(n, m) codes of the rows of ``x`` (n, m·d) against an (m, k, d)
    codebook: :func:`nearest_code` per subspace."""
    m, _, d = codebook.shape
    return np.stack(
        [
            nearest_code(x[:, s * d : (s + 1) * d], codebook[s], mask[s])
            for s in range(m)
        ],
        axis=1,
    )


def adc_sum(lut, codes) -> np.ndarray:
    """(Q, n) ADC sums: ``lut`` (Q, m, k) looked up at each row's code
    per subspace, folded from 0.0 in subspace order."""
    acc = np.zeros((lut.shape[0], codes.shape[0]))
    for s in range(lut.shape[1]):
        acc = acc + lut[:, s, codes[:, s]]
    return acc


def topk_desc(score, ids, k: int) -> np.ndarray:
    """Indices of the first ``k`` rows under ``ORDER BY score DESC, id
    ASC`` as Spark orders doubles: NaN above every number, ``-0.0``
    equal to ``0.0``."""
    nan = np.isnan(score)
    neg = np.where(nan, 0.0, -score)
    return np.lexsort((ids, neg, ~nan))[:k]


def exact_sum_parts(values) -> list:
    """Finite doubles whose exact sum equals the exact sum of the finite
    ``values``, each part the correctly rounded remainder of the last.
    ``math.fsum`` over the parts of any split of the data therefore
    returns the same correctly rounded total, however the rows were
    partitioned. Non-finite values contribute their IEEE sum as one
    extra part."""
    vals = [v for v in values if math.isfinite(v)]
    bad = [v for v in values if not math.isfinite(v)]
    parts: list = []
    while True:
        rest = math.fsum(vals + [-p for p in parts])
        if rest == 0.0:
            break
        parts.append(rest)
    if bad:
        parts.append(float(sum(bad)))
    return parts


def combine_parts(parts) -> float:
    """The total of :func:`exact_sum_parts` outputs: exact and correctly
    rounded for finite parts, the IEEE sum once a non-finite one is in."""
    finite = [p for p in parts if math.isfinite(p)]
    bad = [p for p in parts if not math.isfinite(p)]
    return math.fsum(finite) if not bad else float(sum(bad))


# ---------------------------------------------------------------------------
# Arrow batch kernels: the bodies of the PQ ``mapInArrow`` passes
# ---------------------------------------------------------------------------


def _bad_embedding(who, id_col, vec_col, row_id, got, dim) -> ValueError:
    return ValueError(
        f"{who}: {vec_col} of {id_col}={row_id!r} is {got}; "
        f"every embedding needs {dim} non-null numbers"
    )


def batch_matrix(batch, id_col: str, vec_col: str, dim: int, who: str):
    """(n, dim) float64 embeddings of an Arrow batch. A null or
    wrong-length embedding, or a null element, raises ``ValueError``
    naming the row's id (inside a task Spark re-raises it on the driver
    as a ``PythonException`` carrying the same text)."""
    import pyarrow.compute as pc

    col = batch.column(vec_col)
    lens = col.value_lengths()
    bad = pc.fill_null(pc.not_equal(lens, dim), True)
    flat = col.flatten()
    if pc.any(bad).as_py():
        i = pc.index(bad, True).as_py()
        got = "null" if lens[i].as_py() is None else f"of length {lens[i]}"
    elif flat.null_count:
        i, got = pc.index(pc.is_null(flat), True).as_py() // dim, "holding a null"
    else:
        x = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        return x.reshape(batch.num_rows, dim)
    raise _bad_embedding(
        who, id_col, vec_col, batch.column(id_col)[i].as_py(), got, dim
    )


def rows_matrix(rows, id_col: str, vec_col: str, dim: int, who: str):
    """:func:`batch_matrix` over collected rows (seeds, queries)."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict(
        {
            id_col: [r[id_col] for r in rows],
            vec_col: pa.array([r[vec_col] for r in rows], pa.list_(pa.float64())),
        }
    )
    return batch_matrix(batch, id_col, vec_col, dim, who)


def encode_batches(batches, codebook, mask, id_col, vec_col, keep_cols):
    """``pq_encode``'s pass: ``(id, *keep_cols, codes list<int32>)`` per
    batch, the codes from :func:`encode`."""
    import pyarrow as pa

    m = codebook.shape[0]
    for b in batches:
        x = batch_matrix(b, id_col, vec_col, m * codebook.shape[2], "pq_encode")
        codes = encode(x, codebook, mask).reshape(-1)
        offsets = np.arange(0, len(codes) + 1, m, dtype=np.int32)
        yield pa.RecordBatch.from_arrays(
            [b.column(c) for c in (id_col, *keep_cols)]
            + [pa.ListArray.from_arrays(pa.array(offsets), pa.array(codes))],
            names=[id_col, *keep_cols, "codes"],
        )


def lloyd_partials(batches, codebook, mask, id_col, vec_col, who):
    """One Lloyd update's pass: assign each row to its nearest codeword
    per subspace and yield, once per partition, one row per (sub,
    cluster, pos) with the member count ``n`` and the
    :func:`exact_sum_parts` of the members' values at pos."""
    import pyarrow as pa

    m, _, d = codebook.shape
    parts: dict = {}
    counts = np.zeros(mask.shape, dtype=np.int64)
    for b in batches:
        x = batch_matrix(b, id_col, vec_col, m * d, who)
        codes = encode(x, codebook, mask)
        for s in range(m):
            xs = x[:, s * d : (s + 1) * d]
            for c in np.unique(codes[:, s]):
                block = xs[codes[:, s] == c]
                counts[s, c] += block.shape[0]
                for j in range(d):
                    parts.setdefault((s, int(c), j), []).extend(
                        exact_sum_parts(block[:, j].tolist())
                    )
    if parts:
        keys = sorted(parts)
        yield pa.RecordBatch.from_pydict(
            {
                "sub": pa.array([s for s, _, _ in keys], pa.int32()),
                "cluster": pa.array([c for _, c, _ in keys], pa.int32()),
                "pos": pa.array([j for _, _, j in keys], pa.int32()),
                "n": pa.array([counts[s, c] for s, c, _ in keys], pa.int64()),
                "parts": pa.array(
                    [exact_sum_parts(parts[key]) for key in keys],
                    pa.list_(pa.float64()),
                ),
            }
        )


def assign_batches(batches, centroids, mask, id_col, vec_col):
    """k-means' assignment pass: ``(id, cluster int32, d2)`` per batch,
    the cluster from :func:`nearest_code` against the (k, d)
    ``centroids`` and ``d2`` its ``round(d2, 6)``."""
    import pyarrow as pa

    for b in batches:
        x = batch_matrix(b, id_col, vec_col, centroids.shape[1], "kmeans_assign")
        code = nearest_code(x, centroids, mask)
        d2 = spark_round(fold_sqdiff(x, centroids[code]))
        yield pa.RecordBatch.from_arrays(
            [b.column(id_col), pa.array(code, pa.int32()), pa.array(d2)],
            names=[id_col, "cluster", "d2"],
        )


def cell_batches(
    batches, cents, cnorm, cids, cell_type, id_col, vec_col, keep_cols,
    residual, who,
):
    """The IVF cell pass: ``(id, *keep_cols, cell)`` per batch, the cell
    from :func:`nearest_cosine` over the batch's ``vnorm`` column, plus
    the residual ``res`` = vector − its cell's centroid when
    ``residual``. No centroids, no rows (an empty cell table assigns
    nothing)."""
    import pyarrow as pa

    dim = cents.shape[1]
    for b in batches:
        if not len(cids):
            continue
        x = batch_matrix(b, id_col, vec_col, dim, who)
        norm = b.column("vnorm").to_numpy(zero_copy_only=False)
        best = nearest_cosine(x, norm, cents, cnorm)
        cols = [b.column(c) for c in (id_col, *keep_cols)]
        cols.append(pa.array(cids[best], cell_type))
        names = [id_col, *keep_cols, "cell"]
        if residual:
            res = (x - cents[best]).reshape(-1)
            offsets = np.arange(0, len(res) + 1, dim, dtype=np.int32)
            cols.append(pa.ListArray.from_arrays(pa.array(offsets), pa.array(res)))
            names.append("res")
        yield pa.RecordBatch.from_arrays(cols, names=names)


def adc_topk(batches, codebook, mask, lut, qnorm, qids, depth, id_col, vec_col):
    """The ADC scoring pass: encode each row, score it against every
    query as ``round(adc / (‖q‖·‖recon‖), 6)`` (the self pair and null
    ids excluded, as the SQL filter ``neighbor != query`` excludes them)
    and yield, once per partition, each query's top ``depth`` rows in the
    ranking window's order. A query's global top ``depth`` lies inside
    the union of these. An all-zero reconstruction raises ``ValueError``
    naming the row, as the SQL division by zero fails under ANSI."""
    import pyarrow as pa
    import pyarrow.compute as pc

    dim = codebook.shape[0] * codebook.shape[2]
    cn2 = fold_dot(codebook, codebook)[None]  # (1, m, k) codeword norms²
    kept: list = [[] for _ in qids]
    id_type = None
    for b in batches:
        id_type = b.schema.field(id_col).type
        b = b.filter(pc.is_valid(b.column(id_col)))
        if b.num_rows == 0 or not len(qids):
            continue
        x = batch_matrix(b, id_col, vec_col, dim, "pq_topk")
        ids = b.column(id_col).to_numpy(zero_copy_only=False)
        codes = encode(x, codebook, mask)
        rnorm = np.sqrt(adc_sum(cn2, codes)[0])
        if not rnorm.all():
            raise ValueError(
                f"pq_topk: {id_col}={ids[rnorm == 0][0].item()!r} encodes to "
                "an all-zero reconstruction; its cosine divides by zero"
            )
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = spark_round(adc_sum(lut, codes) / (qnorm[:, None] * rnorm))
        for qi, qid in enumerate(qids):
            idx = np.flatnonzero(ids != qid)
            idx = idx[topk_desc(cos[qi, idx], ids[idx], depth)]
            kept[qi].append((ids[idx], cos[qi, idx]))
    cols: list = [[], [], []]
    for qid, chunks in zip(qids, kept):
        if chunks:
            nids = np.concatenate([c[0] for c in chunks])
            cs = np.concatenate([c[1] for c in chunks])
            top = topk_desc(cs, nids, depth)
            cols[0].append(np.full(len(top), qid))
            cols[1].append(nids[top])
            cols[2].append(cs[top])
    if cols[0]:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(cols[0]), id_type),
                pa.array(np.concatenate(cols[1]), id_type),
                pa.array(np.concatenate(cols[2]), pa.float64()),
            ],
            names=["query_id", "neighbor_id", "cos_sim"],
        )
