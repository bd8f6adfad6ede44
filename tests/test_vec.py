"""Bit-exactness of the numpy kernels in ``functions/vec`` against the
Spark SQL arithmetic they replay (the PQ plane's correctness rests on
these being identical, not close)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from mongoshake_spark.functions import vec
from mongoshake_spark.functions.similarity import dot_expr


def _same_bits(a, b) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and (
        np.where(np.isnan(a), np.nan, a).tobytes()
        == np.where(np.isnan(b), np.nan, b).tobytes()
    )


def test_fold_dot_matches_dot_expr_on_float_and_double(spark):
    rng = np.random.default_rng(7)
    n, dim = 300, 24
    a = rng.normal(size=(n, dim)) * rng.choice([1e-3, 1.0, 1e4], size=(n, 1))
    b = rng.normal(size=(n, dim))
    a32 = a.astype(np.float32)
    rows = [
        (i, a32[i].tolist(), a[i].tolist(), b[i].tolist()) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "i long, af array<float>, ad array<double>, b array<double>"
    ).select(
        "i",
        F.expr(dot_expr("af", "b")).alias("dot_f"),
        F.expr(dot_expr("ad", "b")).alias("dot_d"),
    )
    got = sorted(df.collect())
    assert _same_bits([r["dot_f"] for r in got], vec.fold_dot(a32, b))
    assert _same_bits([r["dot_d"] for r in got], vec.fold_dot(a, b))
    # the broadcast form (rows x codewords) folds each pair the same way
    grid = vec.fold_dot(a[:5, None, :], b[None, :7, :])
    assert _same_bits(grid[3, 6], vec.fold_dot(a[3], b[6]))


def test_spark_round_matches_spark_on_ties(spark):
    n = np.arange(-2000, 2000, dtype=np.float64)
    grid = np.concatenate(
        [
            n * 1e-6 + 5e-7,  # decimal ties at the 7th place
            -(n * 1e-6 + 5e-7),
            n * 1e-6 + 4.999999e-7,
            n * 1.0 + 0.0000005,
            np.array(
                [
                    0.0, -0.0, 5e-7, -5e-7, 2.5e-7, 1e-300, -1e-300,
                    5e-324, 123456789.1234565, -98765.4321235,
                    1234567890123.4565, 2.0**53 + 2, 1e300, -1e300,
                    np.nan, np.inf, -np.inf,
                ]
            ),
            np.random.default_rng(3).normal(size=4000) * 10.0 ** (
                np.random.default_rng(4).integers(-8, 12, size=4000)
            ),
        ]
    )
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(grid)], "i long, x double"
    ).select("i", F.round("x", 6).alias("r"))
    want = [r["r"] for r in sorted(df.collect())]
    got = vec.spark_round(grid)
    assert _same_bits(want, got)
    # np.round is half-even on the binary value: it is not a stand-in
    assert not _same_bits(want, np.round(grid, 6))
    assert math.copysign(1.0, vec.spark_round(np.array([-0.0]))[0]) == 1.0


def test_nearest_code_breaks_ties_to_smaller_cluster():
    cb = np.array(
        [
            [1.0000000001, 0.0],  # cluster 0: d2 1.0000000002 -> 1.0
            [0.0, 1.0],  # cluster 1: d2 1.0, strictly closer unrounded
            [0.0, -1.0],  # cluster 2: d2 1.0
            [2.0, 0.0],  # cluster 3
        ]
    )
    sv = np.array([[0.0, 0.0], [0.0, 0.5], [np.nan, 0.0]])
    mask = np.ones(4, dtype=bool)
    # row 0: clusters 0, 1 and 2 tie at round(d2, 6) = 1.0 -> 0
    # row 1: cluster 1 is nearest outright
    # row 2: every distance is NaN -> the smallest existing id
    assert vec.nearest_code(sv, cb, mask).tolist() == [0, 1, 0]
    # a codeword that does not exist is never chosen
    mask[0] = False
    assert vec.nearest_code(sv, cb, mask).tolist() == [1, 1, 1]
    # NaN ranks above every number: a finite distance beats a NaN one
    cb_nan = np.array([[np.nan, 0.0], [5.0, 5.0]])
    assert vec.nearest_code(sv[:1], cb_nan, np.ones(2, bool)).tolist() == [1]


def test_nearest_cosine_matches_spark_array_max(spark, monkeypatch):
    """The IVF cell argmax replays ``array_max`` over ``(cs, -cid)``
    structs, the in-row fold it replaced: the largest cosine, equal
    cosines to the smaller cid, NaN above every number. Checked against
    that Spark expression inline on random rows plus duplicate
    centroids (ties), NaN and infinite coordinates, with a small row
    block so the blocking is exercised too."""
    monkeypatch.setattr(vec, "_ROW_BLOCK", 7)
    rng = np.random.default_rng(5)
    x = np.vstack(
        [
            rng.normal(size=(40, 3)),
            [[1.0, 0.0, 0.0], [0.0, 2.0, 0.0], [np.nan, 1.0, 0.0],
             [np.inf, 1.0, 0.0], [0.0, 0.0, 3.0]],
        ]
    )
    base = np.vstack([rng.normal(size=(5, 3)), [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]])
    tables = {
        "ties": (base[[0, 5, 1, 5, 6, 2, 6]], [9, 4, 7, 2, 11, 3, 5]),
        "nan": (np.vstack([base[:3], [[0.5, np.nan, 0.0]]]), [6, 1, 8, 4]),
    }
    xnorm = np.sqrt(vec.fold_dot(x, x))
    for name, (cents, cids) in tables.items():
        cnorm = np.sqrt(vec.fold_dot(cents, cents))
        arr = [
            (int(c), v.tolist(), float(n)) for c, v, n in zip(cids, cents, cnorm)
        ]
        df = spark.createDataFrame(
            [(i, x[i].tolist(), float(xnorm[i]), arr) for i in range(len(x))],
            "i long, v array<double>, vnorm double, "
            "cents array<struct<cid: long, cvec: array<double>, cnorm: double>>",
        )

        def one(c):
            cs = F.aggregate(
                F.zip_with("v", c["cvec"], lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ) / (F.col("vnorm") * c["cnorm"])
            return F.struct(cs.alias("cs"), (-c["cid"]).alias("ncid"))

        want = [
            -r["ncid"]
            for r in df.select(
                "i", F.array_max(F.transform("cents", one))["ncid"].alias("ncid")
            )
            .orderBy("i")
            .collect()
        ]
        order = np.argsort(cids)
        best = vec.nearest_cosine(x, xnorm, cents[order], cnorm[order])
        assert np.asarray(cids)[order][best].tolist() == want, name


def test_topk_desc_orders_like_the_spark_window(spark):
    from pyspark.sql import Window

    score = np.array(
        [0.5, np.nan, 0.5, -0.0, 0.0, np.inf, -np.inf, np.nan, 0.25, 0.5]
    )
    ids = np.array([9, 4, 2, 7, 3, 8, 1, 6, 5, 0])
    w = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    spark_order = [
        r["id"]
        for r in spark.createDataFrame(
            [(int(i), float(s)) for i, s in zip(ids, score)], "id long, s double"
        )
        .withColumn("rn", F.row_number().over(w))
        .orderBy("rn")
        .collect()
    ]
    assert ids[vec.topk_desc(score, ids, len(ids))].tolist() == spark_order
    assert ids[vec.topk_desc(score, ids, 3)].tolist() == spark_order[:3]


def test_exact_sum_parts_is_split_invariant():
    rng = np.random.default_rng(11)
    vals = (rng.normal(size=3000) * 10.0 ** rng.integers(-12, 12, 3000)).tolist()
    total = math.fsum(vals)
    for cuts in ([1500], [1, 2, 2999], list(range(100, 3000, 97))):
        bounds = [0, *cuts, len(vals)]
        parts = [
            p
            for lo, hi in zip(bounds, bounds[1:])
            for p in vec.exact_sum_parts(vals[lo:hi])
        ]
        assert vec.combine_parts(vec.exact_sum_parts(parts)) == total
        assert vec.combine_parts(parts) == total
    assert vec.exact_sum_parts([]) == []
    assert math.isnan(vec.combine_parts(vec.exact_sum_parts([1.0, np.inf, -np.inf])))
    assert vec.combine_parts(vec.exact_sum_parts([1.0, np.inf])) == np.inf
