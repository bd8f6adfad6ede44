"""BM25 retrieval (functions/retrieval) and deterministic k-means
(functions/clustering)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mongoshake_spark.functions.clustering import kmeans_assign
from mongoshake_spark.functions.retrieval import bm25_scores, bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bm25_hand_computed_scores(spark):
    """3-doc corpus, 2-term query, scores checked against the Okapi
    formula computed by hand (k1=1.2, b=0.75)."""
    docs = _docs(
        spark,
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "dog")],
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, ["apple", "banana"]).collect()
    }
    n, avgdl = 3.0, 2.0
    idf_a = math.log(1 + (n - 1 + 0.5) / (1 + 0.5))
    idf_b = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def part(idf, tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    want = {
        1: part(idf_a, 2, 3) + part(idf_b, 1, 3),
        2: part(idf_b, 1, 2),
    }
    assert set(got) == {1, 2}  # doc 3 matches nothing and never appears
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-12)


def test_bm25_tokenizer_case_and_punctuation(spark):
    """Tokens are lowercased and split on non-alphanumerics — 'Apple,'
    and 'apple' are the same term; empty splits never count toward dl."""
    docs = _docs(spark, [(1, "  Apple, BANANA!"), (2, "apple")])
    got = {r["doc_id"] for r in bm25_scores(docs, ["apple"]).collect()}
    assert got == {1, 2}


def test_bm25_topk_orders_by_score_then_id(spark):
    """Equal rounded scores tie-break by ascending doc id; k truncates."""
    docs = _docs(spark, [(i, "apple") for i in range(10)])  # identical docs
    top = bm25_topk(docs, ["apple"], k=4).collect()
    assert [r["doc_id"] for r in top] == [0, 1, 2, 3]
    assert len({r["score"] for r in top}) == 1


def test_bm25_rejects_empty_terms(spark):
    with pytest.raises(ValueError, match="empty term list"):
        bm25_scores(_docs(spark, [(1, "x")]), [])


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_separates_obvious_clusters(spark):
    """Two well-separated blobs; init takes the two smallest ids (one in
    each blob), so Lloyd must settle every point into its blob."""
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.5, 0.1]), (3, [10.2, 9.9]), (4, [0.1, 0.4]),
            (5, [9.8, 10.1])]
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(_vecs(spark, rows), k=2, iters=3).collect()}
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}


def test_kmeans_equidistant_tie_goes_to_smaller_cluster_id(spark):
    """A point exactly between two init centroids lands in the smaller
    cluster id (the struct-min tiebreak the oracle replicates)."""
    rows = [(0, [0.0]), (1, [2.0]), (2, [1.0])]
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(_vecs(spark, rows), k=2, iters=1).collect()}
    assert got[2] == 0


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from mongoshake_spark.sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, kmeans_assign(vecs, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assign(vecs, k=4, iters=2).collect()))
    assert a == b and len(a) == vecs.count()


def test_kmeans_k1_and_validation(spark):
    rows = [(0, [0.0]), (1, [5.0])]
    got = kmeans_assign(_vecs(spark, rows), k=1, iters=1).collect()
    assert {r["cluster"] for r in got} == {0}
    with pytest.raises(ValueError):
        kmeans_assign(_vecs(spark, rows), k=0)


def test_kmeans_assignment_plan_broadcasts_centroids(spark, sf_dir):
    """Assignment must not shuffle the corpus: the centroids ride in the
    assignment pass's closure (no join at all), and no corpus-sized
    exchange precedes it."""
    from mongoshake_spark.sources.tables import load_table
    from tests.test_plans import _plan

    vecs = load_table(spark, sf_dir, "embeddings")
    plan = _plan(kmeans_assign(vecs, k=8, iters=1))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# hybrid RRF retrieval
# ---------------------------------------------------------------------------


def test_rrf_fuse_hand_computed(spark):
    """RRF math: doc in both lists sums both reciprocal terms; docs in
    one list get the other term as 0 (never NULL)."""
    from mongoshake_spark.functions.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id bigint, lex_rank bigint")
    b = spark.createDataFrame([(1, 3), (9, 1)], "doc_id bigint, sem_rank bigint")
    got = {r["doc_id"]: (r["lex_rank"], r["sem_rank"], r["rrf_score"])
           for r in rrf_fuse(a, b).collect()}
    assert got[1] == (1, 3, pytest.approx(round(1 / 61 + 1 / 63, 6)))
    assert got[2] == (2, None, pytest.approx(round(1 / 62, 6)))
    assert got[9] == (None, 1, pytest.approx(round(1 / 61, 6)))


def test_hybrid_rrf_topk_blends_both_modalities(spark, sf_dir):
    """The fused top-k must actually draw on both lists: it contains at
    least one doc with a lexical rank and one with a semantic rank, is
    sorted by fused score, and is bounded by k."""
    from mongoshake_spark.functions.retrieval import hybrid_rrf_topk
    from mongoshake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    rows = hybrid_rrf_topk(docs, vecs, ["spark", "merge"], query_vec_id=0,
                           k=10).collect()
    assert 0 < len(rows) <= 10
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["sem_rank"] is not None for r in rows)


def test_hybrid_plan_has_no_global_ordered_window(spark, sf_dir):
    """Rank assignment must go through the distributed prefix sum — a
    partition-less ordered window over the corpus is the red flag."""
    import re

    from mongoshake_spark.functions.retrieval import hybrid_rrf_topk
    from mongoshake_spark.sources.tables import load_table
    from tests.test_plans import _plan

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    plan = _plan(hybrid_rrf_topk(docs, vecs, ["spark"], query_vec_id=0, k=5))
    for first_arg in re.findall(r"windowspecdefinition\(([^,]*),", plan):
        assert "ASC" not in first_arg and "DESC" not in first_arg


def test_ranked_topk_local_guards_driver_residency(spark):
    """_ranked_topk_local collects its k rows to the driver BY DESIGN
    (bounded by the operator's k); a k above the documented ceiling must
    raise instead of silently becoming an unbounded driver collect. The
    id column's type must also follow the input schema (a string-id
    caller must not get a bigint cast)."""
    from mongoshake_spark.functions.retrieval import (
        _RANKED_TOPK_MAX_K,
        _ranked_topk_local,
    )

    scored = spark.createDataFrame(
        [(1, -3.0), (2, -1.0)], "doc_id bigint, _neg double"
    )
    with pytest.raises(ValueError, match="driver-residency"):
        _ranked_topk_local(scored, "doc_id", _RANKED_TOPK_MAX_K + 1, "rank")
    # string ids survive with their own type
    s = spark.createDataFrame(
        [("b", -2.0), ("a", -1.0)], "doc_id string, _neg double"
    )
    got = _ranked_topk_local(s, "doc_id", 2, "rank")
    assert dict(got.collect()) == {"b": 1, "a": 2}
    assert got.schema["doc_id"].dataType.simpleString() == "string"


def test_ivf_topk_accepts_trained_kmeans_centroids(spark, sf_dir):
    """A k-means-trained coarse quantizer swaps in for the id-sample:
    same output schema, deterministic results, and probing every cell
    recovers the exact brute-force answer."""
    from mongoshake_spark.functions.clustering import kmeans_fit
    from mongoshake_spark.functions.similarity import brute_topk, ivf_topk
    from mongoshake_spark.sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    qids = [r["vec_id"] for r in vecs.select("vec_id").orderBy("vec_id")
            .limit(5).collect()]
    _, cents = kmeans_fit(vecs, k=6, iters=2)
    cents = cents.localCheckpoint(eager=True)
    approx = ivf_topk(vecs, qids, k=3, n_probe=2, centroids=cents)
    assert approx.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
    a = sorted(map(tuple, approx.collect()))
    b = sorted(map(tuple,
                   ivf_topk(vecs, qids, k=3, n_probe=2, centroids=cents).collect()))
    assert a == b and len(a) > 0
    n_cells = cents.count()
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk(vecs, qids, k=3, n_probe=n_cells,
                              centroids=cents).collect()}
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_topk(vecs, qids, k=3).collect()}
    assert full == exact


def test_pq_encode_reconstruct_roundtrip_properties(spark):
    """PQ invariants on a controlled corpus: (a) codes are one codeword
    index per subspace, ordered by subspace; (b) a vector EQUAL to a
    codeword reconstructs exactly; (c) reconstruction error is never
    larger than assigning any other codeword (nearest-codeword
    optimality); (d) ADC top-k ranks an exact-duplicate pair first."""
    from mongoshake_spark.functions import quantization as pq

    # 12 vectors of dim 8, m=2 subspaces of 4; two exact duplicates
    base = [
        [float(i + 1)] * 4 + [float(10 - i)] * 4 for i in range(10)
    ]
    rows = [(i, v) for i, v in enumerate(base)] + [
        (10, base[3]),  # exact duplicate of vec 3
        (11, [100.0, -5.0, 2.0, 0.5, -9.0, 4.0, 1.0, 7.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq.pq_train(vecs, m=2, k=4, iters=2)
    assert cb.count() <= 2 * 4 and cb.select("sub").distinct().count() == 2
    codes = pq.pq_encode(vecs, cb)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert all(len(c) == 2 for c in got.values())
    # exact duplicates encode identically
    assert got[10] == got[3]
    # reconstruction = the chosen codewords, concatenated in order
    rec = {
        r["vec_id"]: list(r["embedding"])
        for r in pq.pq_reconstruct(codes, cb).collect()
    }
    books = {
        (r["sub"], r["cluster"]): list(r["centroid"]) for r in cb.collect()
    }
    for vid, cs in got.items():
        assert rec[vid] == books[(0, cs[0])] + books[(1, cs[1])]
    # nearest-codeword optimality per subspace
    for vid, emb in rows:
        for s in range(2):
            sv = emb[s * 4 : (s + 1) * 4]
            chosen = books[(s, got[vid][s])]
            d_chosen = sum((a - b) ** 2 for a, b in zip(sv, chosen))
            for (bs, _bc), cent in books.items():
                if bs != s:
                    continue
                d_other = sum((a - b) ** 2 for a, b in zip(sv, cent))
                assert d_chosen <= d_other + 1e-9
    # ADC: the exact duplicate scores at the query's maximum (other
    # vectors quantized to the SAME codewords tie with it — the
    # resolution limit of the codebook, ids break the tie)
    top = pq.pq_topk(vecs, [3], k=12, m=2, k_code=4, codebooks=cb).collect()
    by_id = {r["neighbor_id"]: r["cos_sim"] for r in top}
    assert by_id[10] == max(by_id.values())


def test_pq_rerank_recovers_exact_order_at_full_shortlist(spark):
    """Two-stage PQ: with rerank C covering every corpus vector, the
    final ranking IS the exact brute-force cosine order — the re-rank
    stage's exact arithmetic fully overrides ADC's quantization error.
    Also pins the candidate-sized contract: rerank < k is rejected."""
    import pytest

    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions import similarity

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_topk(vecs, [0, 1], k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq.pq_topk(
            vecs, [0, 1], k=5, m=2, k_code=4, rerank=11
        ).collect()
    }
    assert got == exact
    with pytest.raises(ValueError, match="rerank"):
        pq.pq_topk(vecs, [0], k=5, m=2, k_code=4, rerank=3)


def test_ivfpq_validations_and_full_probe_shape(spark):
    """IVF-PQ guards: empty coarse sample and indivisible dims are loud;
    with every cell probed and k = corpus, every non-query vector is
    scored exactly once with contiguous ranks (cell restriction drops
    nothing at full probe), deterministically across repartitionings."""
    import pytest

    from mongoshake_spark.functions import quantization as pq

    rows = [
        (i, [float((i * 5 + j) % 7) + (1.0 if i == 4 else 0.0) for j in range(8)])
        for i in range(10)
    ] + [(10, [float((3 * 5 + j) % 7) for j in range(8)])]  # dup of vec 3
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="centroid_mod"):
        # ids 1..10 only: no id divisible by 97 (id 0 divides everything)
        pq.ivfpq_topk(vecs.filter("vec_id > 0"), [1], centroid_mod=97)
    with pytest.raises(ValueError, match="divisible"):
        pq.ivfpq_topk(vecs, [0], m=3, centroid_mod=5)
    top = pq.ivfpq_topk(
        vecs, [3], k=11, n_probe=3, m=2, k_code=4, centroid_mod=5
    ).collect()
    # all 10 non-query vectors scored once, ranks contiguous
    assert sorted(r["neighbor_id"] for r in top) == [
        i for i in range(11) if i != 3
    ]
    assert sorted(r["rank"] for r in top) == list(range(1, 11))
    again = pq.ivfpq_topk(
        vecs.repartition(7), [3], k=11, n_probe=3, m=2, k_code=4,
        centroid_mod=5,
    ).collect()
    assert {(r["rank"], r["neighbor_id"], r["cos_sim"]) for r in again} == {
        (r["rank"], r["neighbor_id"], r["cos_sim"]) for r in top
    }


def _ivfadc_model(spark, cnorm, qnorm):
    """A one-cell, one-query IVFADC model (m=1, d=2, k_code=1) with the
    given centroid and query norms."""
    codes = spark.createDataFrame(
        [(1, 7, [0])], "vec_id long, cell long, codes array<int>"
    )
    cents = spark.createDataFrame(
        [(7, [1.0, 0.0], cnorm)], "cid long, cvec array<double>, cnorm double"
    )
    codebooks = spark.createDataFrame(
        [(0, 0, [0.0, 0.0])], "sub int, cluster int, centroid array<double>"
    )
    queries = spark.createDataFrame(
        [(3, [1.0, 0.0], qnorm)], "query_id long, qvec array<double>, qnorm double"
    )
    return codes, cents, codebooks, queries


@pytest.mark.parametrize(
    "cnorm, qnorm, message",
    [
        # zero: the cosine probe would divide by zero
        (0.0, 1.0, r"cnorm=0\.0 at cid=7"),
        # NaN: probe scores would be NaN, which Python's sort leaves in
        # no defined order
        (1.0, float("nan"), "qnorm=nan at query_id=3"),
    ],
    ids=["zero_cnorm", "nan_qnorm"],
)
def test_ivfadc_score_rejects_degenerate_norm(spark, cnorm, qnorm, message):
    """Degenerate norms are rejected when the model tables are collected,
    naming the offending row; the same model with valid norms scores."""
    from mongoshake_spark.functions.quantization import ivfadc_score

    with pytest.raises(ValueError, match=message):
        ivfadc_score(*_ivfadc_model(spark, cnorm, qnorm), m=1, d=2, k=1, n_probe=1)
    out = ivfadc_score(*_ivfadc_model(spark, 1.0, 1.0), m=1, d=2, k=1, n_probe=1)
    assert [r["neighbor_id"] for r in out.collect()] == [1]


def test_sq8_roundtrip_and_extremes_exact(spark):
    """SQ8: codes are one byte per dimension (0..255); per-dim min and
    max reconstruct EXACTLY (they are the quantizer's anchor points);
    every reconstruction stays inside [mn, mx]; constant dimensions
    encode to 0 and reconstruct to their value."""
    from mongoshake_spark.functions import quantization as pq

    rows = [
        (0, [0.0, -4.0, 7.5, 3.0]),
        (1, [10.0, 2.0, -2.5, 3.0]),
        (2, [5.0, -1.0, 0.0, 3.0]),  # dim 3 is constant
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bounds = pq.sq8_train(vecs)
    b = {r["pos"]: (r["mn"], r["mx"]) for r in bounds.collect()}
    assert b == {0: (0.0, 10.0), 1: (-4.0, 2.0), 2: (-2.5, 7.5), 3: (3.0, 3.0)}
    codes = pq.sq8_encode(vecs, bounds)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert all(0 <= c <= 255 for cs in got.values() for c in cs)
    assert got[0][0] == 0 and got[1][0] == 255  # min/max anchor codes
    assert [cs[3] for cs in got.values()] == [0, 0, 0]  # constant dim
    rec = {
        r["vec_id"]: list(r["embedding"])
        for r in pq.sq8_reconstruct(codes, bounds).collect()
    }
    for vid, emb in rows:
        for i, x in enumerate(emb):
            mn, mx = b[i]
            assert mn - 1e-12 <= rec[vid][i] <= mx + 1e-12
            if x in (mn, mx):
                assert rec[vid][i] == x  # anchors are exact
    # top-k through the compressed store ranks the identical vector pair
    dup = vecs.union(
        spark.createDataFrame([(3, [10.0, 2.0, -2.5, 3.0])],
                              "vec_id long, embedding array<double>")
    )
    top = pq.sq8_topk(dup, [1], k=3).collect()
    assert top[0]["neighbor_id"] == 3 and top[0]["rank"] == 1


def test_tfidf_top_terms_ranks_rare_terms_first(spark):
    from mongoshake_spark.functions.retrieval import tfidf_top_terms

    # 'zebra' appears only in doc 1 (df=1), 'the' in all 3 (df=3).
    docs = _docs(
        spark,
        [
            (1, "the zebra the cat"),
            (2, "the cat sat"),
            (3, "the dog"),
        ],
    )
    out = tfidf_top_terms(docs, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    # doc 1: zebra tf=1 df=1 -> 3.0; cat tf=1 df=2 -> 1.5; the tf=2 df=3 -> 2.0
    ranked1 = sorted(by_doc[1])
    assert ranked1[0][1] == "zebra" and ranked1[0][2] == 3.0
    assert ranked1[1][1] == "the" and ranked1[1][2] == 2.0
    # every doc emits at most top_k rows, ranks are 1..n
    assert all(len(v) <= 2 for v in by_doc.values())
    assert sorted(r for r, _, _ in ranked1) == [1, 2]


def test_tfidf_tie_breaks_by_term_ascending(spark):
    from mongoshake_spark.functions.retrieval import tfidf_top_terms

    # both terms unique to the doc with tf=1 -> equal scores; 'apple' < 'pear'
    docs = _docs(spark, [(1, "pear apple"), (2, "filler words here")])
    out = [r for r in tfidf_top_terms(docs, top_k=2).collect() if r["doc_id"] == 1]
    out.sort(key=lambda r: r["rank"])
    assert [r["term"] for r in out] == ["apple", "pear"]


def test_ivfpq_rerank_full_probe_full_shortlist_is_exact(spark):
    """IVFADC + exact re-rank: with every cell probed and C covering the
    whole corpus, the two-stage result IS the exact brute-force order —
    the probe map hides nothing and the exact re-score overrides all
    residual-quantization error. Also pins rerank < k rejection."""
    import pytest

    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions import similarity

    rows = [
        (i, [float((i * 5 + j * 7) % 13) - 6.0 for j in range(8)])
        for i in range(24)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # centroid_mod=6 -> 4 cells; probe all of them
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_topk(vecs, [1, 2], k=4).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq.ivfpq_topk(
            vecs, [1, 2], k=4, n_probe=4, m=2, k_code=4, centroid_mod=6,
            rerank=23,
        ).collect()
    }
    assert got == exact
    with pytest.raises(ValueError, match="rerank"):
        pq.ivfpq_topk(vecs, [1], k=4, m=2, k_code=4, centroid_mod=6, rerank=2)


def test_hard_negatives_excludes_near_copies_keeps_confusables(spark):
    from mongoshake_spark.functions.retrieval import hard_negatives

    anchor = "zebra stripes savanna roam wide under warm amber skies"
    docs = _docs(
        spark,
        [
            (0, anchor),
            # lexically confusable: the anchor's full vocabulary in
            # REVERSED order — every anchor keyword hits, but the longest
            # shared token run is 1, so no 8-token-gram matches
            (1, "skies amber warm under wide roam savanna stripes zebra"),
            # near-copy: shares an 8-token-gram with the anchor -> excluded
            (2, anchor + " again"),
            # unrelated filler (so df stats have mass)
            (3, "cooking pasta with garlic butter and fresh basil leaves"),
            (4, "quarterly revenue grew while costs stayed mostly flat"),
        ],
    )
    out = hard_negatives(docs, anchor_ids=[0], top_terms=3, k=3).collect()
    ids = [r["neg_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 2 not in ids  # near-copy filtered by the gram excluder
    assert ids and ids[0] == 1  # the confusable doc is the top negative
    assert all(r["anchor_id"] == 0 for r in out)


def test_sample_cluster_balanced_quota_subset_and_determinism(spark, sf_dir):
    """The diversity-sampling contracts: exactly min(quota, |cluster|)
    per cluster, a smaller quota is a STRICT SUBSET of a larger one
    (ranks only truncate), and the sample reproduces identically under
    a different input partitioning (no RNG state)."""
    from mongoshake_spark.functions.clustering import sample_cluster_balanced
    from mongoshake_spark.sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    s10 = sample_cluster_balanced(vecs, k=4, per_cluster=10)
    rows10 = {(r["vec_id"], r["cluster"]) for r in s10.collect()}
    per = {}
    for _, c in rows10:
        per[c] = per.get(c, 0) + 1
    assert all(n <= 10 for n in per.values())
    # fixture clusters are all bigger than the quota at every sf
    assert all(n == 10 for n in per.values())
    s5 = {
        (r["vec_id"], r["cluster"])
        for r in sample_cluster_balanced(vecs, k=4, per_cluster=5).collect()
    }
    assert s5 < rows10  # strict subset
    rep = {
        (r["vec_id"], r["cluster"])
        for r in sample_cluster_balanced(
            vecs.repartition(7), k=4, per_cluster=10
        ).collect()
    }
    assert rep == rows10


def test_cluster_topics_separates_distinct_vocabularies(spark):
    """Two well-separated embedding clusters with disjoint vocabularies:
    each cluster's top terms come from ITS documents only, and a term
    shared by both clusters scores below a same-frequency exclusive one
    (the class-based idf at work)."""
    from mongoshake_spark.functions.clustering import cluster_topics

    # interleaved ids: min-id k-means init (ids 0 and 1) must seed BOTH
    # groups, or the identical seeds collapse to one cluster
    vec_rows = [
        (i, [10.0, 0.0] if i % 2 == 0 else [0.0, 10.0]) for i in range(8)
    ]
    vecs = spark.createDataFrame(vec_rows, "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [
            (i, "alpha alpha shared" if i % 2 == 0 else "beta beta shared")
            for i in range(8)
        ],
        "doc_id long, text string",
    )
    out = cluster_topics(docs, vecs, k=2, iters=2, top_terms=2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append((r["rank"], r["term"]))
    assert len(by_cluster) == 2
    tops = {min(v)[1] for v in by_cluster.values()}
    assert tops == {"alpha", "beta"}  # exclusive terms win both labels
    for v in by_cluster.values():
        ranked = [t for _, t in sorted(v)]
        assert ranked[1] == "shared"  # the cross-cluster term ranks below


# ---------------------------------------------------------------------------
# OPQ (eigen rotation + variance-balanced permutation)
# ---------------------------------------------------------------------------


def _aniso(vecs):
    """Deterministic anisotropic corpus: dim j scaled by 2^(-j/8), so
    variance spans ~2^16 across dims — the regime OPQ exists for."""
    from pyspark.sql import functions as F

    return vecs.withColumn(
        "embedding",
        F.expr("transform(embedding, (x, j) -> CAST(x * pow(2.0, -j/8.0) AS float))"),
    )


def test_opq_fit_rotation_contract(spark, sf_dir):
    import numpy as np

    from mongoshake_spark.functions import quantization as pq

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pq.opq_fit(vecs, m=4)
    R = np.asarray(model.rotation)
    assert R.shape == (64, 64)
    np.testing.assert_allclose(R @ R.T, np.eye(64), atol=1e-10)
    # allocation: m buckets of dim/m eigen indices, a partition of range(dim)
    assert sorted(i for b in model.allocation for i in b) == list(range(64))
    assert [len(b) for b in model.allocation] == [16] * 4
    # snake draft balances the per-subspace variance products: on the
    # anisotropic corpus no subspace may carry >60% of total variance
    aniso = _aniso(vecs)
    amod = pq.opq_fit(aniso, m=4)
    rot = pq.opq_rotate(aniso, amod)
    rows = rot.select("embedding").limit(200).collect()
    Y = np.array([r["embedding"] for r in rows])
    sub_var = np.array(
        [Y[:, s * 16 : (s + 1) * 16].var(axis=0).sum() for s in range(4)]
    )
    assert sub_var.max() / sub_var.sum() < 0.6


def test_opq_rotate_preserves_cosine(spark, sf_dir):
    """Orthonormal rotation without centering: exact cosine on rotated
    vectors equals exact cosine on the originals (what makes the
    exact-rerank stage score the oracle's quantity)."""
    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions.similarity import brute_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pq.opq_fit(vecs, m=4)
    rot = pq.opq_rotate(vecs, model)
    a = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in brute_topk(vecs, [0, 1, 2], k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in brute_topk(rot, [0, 1, 2], k=5).collect()
    }
    assert a == b  # cos rounded to 6dp on both sides


def test_opq_beats_pq_on_anisotropic_corpus(spark, sf_dir):
    """The OPQ claim itself (Ge et al. 2013): balanced subspace variance
    improves ADC shortlist recall where variance is concentrated. On the
    2^(-j/8)-scaled corpus both OPQ variants must clearly beat plain PQ
    (measured: 0.8 / 0.8 vs 0.36)."""
    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions.similarity import brute_topk

    aniso = _aniso(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = list(range(10))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_topk(aniso, q, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    r_pq = recall(pq.pq_topk(aniso, q, k=25, m=4, k_code=8, iters=2))
    r_rot = recall(pq.opq_topk(aniso, q, k=25, m=4, k_code=8, iters=2))
    r_perm = recall(pq.opq_perm_topk(aniso, q, k=25, m=4, k_code=8, iters=2))
    assert r_rot >= r_pq + 0.2
    assert r_perm >= r_pq + 0.2


def test_opq_perm_fit_is_permutation_and_snake(spark, sf_dir):
    import numpy as np

    from mongoshake_spark.functions import quantization as pq

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    perm = pq.opq_perm_fit(vecs, m=4)
    assert sorted(perm) == list(range(64))
    # replicate: rounded variances -> snake -> same layout
    from mongoshake_spark.functions.projection import embedding_moments

    var = np.round(np.diag(embedding_moments(vecs).cov), 6)
    order = sorted(range(64), key=lambda d: (-var[d], d))
    buckets = [[] for _ in range(4)]
    for r, d in enumerate(order):
        b = r % 4 if (r // 4) % 2 == 0 else 3 - (r % 4)
        buckets[b].append(d)
    assert perm == [d for b in buckets for d in b]


def test_opq_validation_errors(spark, sf_dir):
    import pytest as _pytest

    from mongoshake_spark.functions import quantization as pq

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="divisible"):
        pq.opq_fit(vecs, m=5)
    with _pytest.raises(ValueError, match="divisible"):
        pq.opq_perm_fit(vecs, m=7)
    with _pytest.raises(ValueError, match="rerank"):
        pq.opq_topk(vecs, [0], k=5, rerank=2).collect()


# ---------------------------------------------------------------------------
# hashed TF-IDF vectors
# ---------------------------------------------------------------------------


def test_hash_tfidf_hand_computed_weights(spark):
    import math

    from mongoshake_spark.functions.retrieval import hash_tfidf_vectors
    from mongoshake_spark.functions.texthash import MOD

    docs = spark.createDataFrame(
        [(0, "aa aa bb"), (1, "aa cc"), (2, "dd")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["tvec"]
        for r in hash_tfidf_vectors(docs, dim=8).collect()
    }

    def ph(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % MOD
        return h % 8

    def idf(df):
        return round(math.log(4.0 / (df + 1.0)) + 1, 6)

    # doc 0: aa tf=2 df=2, bb tf=1 df=1 — all other buckets zero
    want = [0.0] * 8
    want[ph("aa")] += round(2 * idf(2), 6)
    want[ph("bb")] += round(1 * idf(1), 6)
    assert out[0] == [round(w, 6) for w in want]
    assert sum(1 for x in out[2] if x != 0) == 1  # dd only


def test_hash_tfidf_empty_text_zero_vector(spark):
    from mongoshake_spark.functions.retrieval import hash_tfidf_vectors

    docs = spark.createDataFrame(
        [(0, "hello world"), (1, ""), (2, "   ")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["tvec"]
        for r in hash_tfidf_vectors(docs, dim=8).collect()
    }
    assert out[1] == [0.0] * 8 and out[2] == [0.0] * 8
    assert any(x != 0 for x in out[0])


def test_hash_vector_neardup_blocks_and_scores(spark):
    from mongoshake_spark.functions.retrieval import hash_vector_neardup

    docs = spark.createDataFrame(
        [
            (0, "en", "the quick brown fox jumps over the lazy dog"),
            (1, "en", "the quick brown fox jumps over the lazy dog"),
            (2, "de", "the quick brown fox jumps over the lazy dog"),
            (3, "en", "completely different words entirely unrelated text"),
        ],
        "doc_id bigint, lang string, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in hash_vector_neardup(docs, threshold=0.95).collect()
    }
    assert pairs == {(0, 1): 1.0}  # identical same-lang pair only;
    # doc 2 is identical text but blocked out by lang, doc 3 dissimilar


def test_hash_vectors_compose_with_lsh_neardup(spark, sf_dir):
    """The bridge claim: hashed text vectors drop into the embedding
    near-dup machinery unchanged (LSH prebucket path included)."""
    from pyspark.sql import functions as F

    from mongoshake_spark.functions.retrieval import hash_tfidf_vectors
    from mongoshake_spark.functions.similarity import neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    vecs = hash_tfidf_vectors(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("vec_id"), F.col("tvec").alias("embedding")
    )
    exact = {
        (r["id_a"], r["id_b"]) if "id_a" in r.asDict() else (r[0], r[1])
        for r in neardup_pairs(vecs, 95, 100).collect()
    }
    lsh = {
        (r[0], r[1])
        for r in neardup_pairs(vecs, 95, 100, prebucket="lsh").collect()
    }
    assert lsh <= exact  # banded candidates are a subset
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # sane recall on hashed vecs


def test_inrow_assignment_plans_are_map_only(spark):
    """Nearest-codeword encode and nearest-centroid assignment must not
    hash-shuffle the corpus: the encode, the k-means assignment and the
    IVF cell assignment are each one map-only ``mapInArrow`` pass over
    a frozen model in its closure. A reappearing `Exchange
    hashpartitioning` on these frames is the regression this guards."""
    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions.clustering import kmeans_assign
    from mongoshake_spark.functions.similarity import (
        assign_nearest_centroid,
        with_norm,
    )

    def plan(df):
        jvm = df.sparkSession.sparkContext._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    rows = [
        (i, [float(i + 1)] * 4 + [float(10 - i)] * 4) for i in range(12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq.pq_train(vecs, m=2, k=4, iters=2)
    enc_plan = plan(pq.pq_encode(vecs, cb, keep_cols=()))
    assert "hashpartitioning" not in enc_plan, enc_plan
    # keep_cols ride through with no join re-attach
    tagged = vecs.selectExpr("vec_id", "embedding", "vec_id % 3 as cell")
    enc2 = pq.pq_encode(tagged, cb, keep_cols=("cell",))
    assert enc2.columns == ["vec_id", "cell", "codes"]
    assert "hashpartitioning" not in plan(enc2)
    # k-means assignment: in-row, no corpus exchange (the init collect
    # and the broadcast build are the only non-map work)
    asg = kmeans_assign(vecs, k=3, iters=2)
    assert "hashpartitioning" not in plan(asg)
    # cell assignment: in-row argmax, no corpus exchange
    unit = with_norm(vecs)
    cents = unit.filter("vec_id % 5 = 0").selectExpr(
        "vec_id as cid", "embedding as cvec", "vnorm as cnorm"
    )
    cell = assign_nearest_centroid(unit, cents)
    assert "hashpartitioning" not in plan(cell)


def _pq_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pq_train_and_topk_are_partition_width_invariant(spark, sf_dir):
    """The Lloyd mean sums per partition and the ADC pass keeps a
    per-partition top-k, so both are checked at several widths: the
    codebook rows, the top-k rows (ADC-only and re-ranked), the k-means
    centroids and assignment (one-subspace PQ) and the IVF cells must
    be identical with the corpus split into 1, 3 and 8 partitions."""
    from mongoshake_spark.functions import quantization as pq
    from mongoshake_spark.functions.clustering import kmeans_fit
    from mongoshake_spark.functions.similarity import ivf_assign
    from mongoshake_spark.sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))

    def run(df):
        cb = pq.pq_train(df, m=4, k=8, iters=3)
        assigned, cents = kmeans_fit(df, k=8, iters=3)
        sample = df.filter("vec_id % 29 = 0").selectExpr(
            "vec_id AS cid", "embedding AS cvec"
        )
        return (
            [(r["sub"], r["cluster"], tuple(r["centroid"])) for r in cb.collect()],
            _pq_rows(pq.pq_topk(df, qids, k=5, codebooks=cb)),
            _pq_rows(pq.pq_topk(df, qids, k=5, iters=2, rerank=25)),
            sorted((r["cluster"], tuple(r["centroid"])) for r in cents.collect()),
            _pq_rows(assigned),
            _pq_rows(ivf_assign(df, sample)),
        )

    base = run(vecs.repartition(1))
    assert len(base[0]) == 32 and len(base[1]) == 50 and len(base[2]) == 50
    n = vecs.count()
    assert len(base[3]) == 8 and len(base[4]) == n and len(base[5]) == n
    for width in (3, 8):
        assert run(vecs.repartition(width)) == base, width


def test_pq_model_and_lut_ceilings(spark, monkeypatch):
    """The frozen model (m·k·d entries) and the query LUT (Q·m·k
    entries) are driver-resident: each passes AT its ceiling and fails
    loudly one entry above it."""
    from mongoshake_spark.functions import quantization as pq

    rows = [(i, [float((i * 5 + j) % 7) for j in range(8)]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model_entries = 2 * 4 * 4  # m * k * d
    monkeypatch.setattr(pq, "_PQ_MODEL_MAX_ENTRIES", model_entries)
    cb = pq.pq_train(vecs, m=2, k=4, iters=2)
    assert pq.PQModel.from_frame(cb).codebook.size == model_entries
    monkeypatch.setattr(pq, "_PQ_MODEL_MAX_ENTRIES", model_entries - 1)
    with pytest.raises(ValueError, match="ceiling"):
        pq.pq_train(vecs, m=2, k=4, iters=2)
    with pytest.raises(ValueError, match="ceiling"):
        pq.PQModel.from_frame(cb)
    monkeypatch.setattr(pq, "_PQ_MODEL_MAX_ENTRIES", model_entries)
    lut_entries = 3 * 2 * 4  # Q * m * k
    monkeypatch.setattr(pq, "_PQ_LUT_MAX_ENTRIES", lut_entries)
    assert len(pq.pq_topk(vecs, [0, 1, 2], k=2, codebooks=cb).collect()) == 6
    monkeypatch.setattr(pq, "_PQ_LUT_MAX_ENTRIES", lut_entries - 1)
    with pytest.raises(ValueError, match="ceiling"):
        pq.pq_topk(vecs, [0, 1, 2], k=2, codebooks=cb)


def test_pq_degenerate_inputs(spark):
    """Null and wrong-length embeddings raise ValueError naming the id
    (on the driver for collected rows; inside a task Spark re-raises the
    worker's ValueError text); a zero-norm query is dropped; NaN scores
    rank first, as Spark's descending window ranks them."""
    from mongoshake_spark.functions import quantization as pq

    rows = [(i, [float((i * 3 + j) % 5) + 1.0 for j in range(8)]) for i in range(12)]
    schema = "vec_id long, embedding array<double>"
    vecs = spark.createDataFrame(rows, schema)
    cb = pq.pq_train(vecs, m=2, k=4, iters=2)

    bad_len = spark.createDataFrame(rows + [(20, [1.0] * 7)], schema)
    with pytest.raises(Exception, match=r"ValueError.*vec_id=20 is of length 7"):
        pq.pq_encode(bad_len, cb).collect()
    with pytest.raises(Exception, match=r"ValueError.*vec_id=20 is of length 7"):
        pq.pq_train(bad_len, m=2, k=4, iters=2)
    null_vec = spark.createDataFrame(rows + [(21, None)], schema)
    with pytest.raises(Exception, match=r"ValueError.*vec_id=21 is null"):
        pq.pq_topk(null_vec, [0], k=3, codebooks=cb).collect()
    # a null query embedding is collected on the driver: a plain ValueError
    with pytest.raises(ValueError, match=r"vec_id=21 is null"):
        pq.pq_topk(null_vec, [21], k=3, codebooks=cb)

    # k-means (one-subspace PQ) and the IVF cell pass read embeddings
    # through the same batch_matrix: a bad row raises naming its id
    # instead of landing in cluster (or cell) 0
    from mongoshake_spark.functions.similarity import ivf_assign

    short = spark.createDataFrame(rows + [(23, [1.0])], schema)
    null_elem = spark.createDataFrame(
        rows + [(22, [1.0, None] + [1.0] * 6)], schema
    )
    for bad, what in (
        (null_vec, "vec_id=21 is null"),
        (short, "vec_id=23 is of length 1"),
        (null_elem, "vec_id=22 is holding a null"),
    ):
        for iters in (1, 2):
            with pytest.raises(Exception, match=rf"ValueError.*{what}"):
                kmeans_assign(bad, k=4, iters=iters).collect()
    cents = vecs.filter("vec_id % 4 = 0").selectExpr(
        "vec_id AS cid", "embedding AS cvec"
    )
    with pytest.raises(Exception, match=r"ValueError.*vec_id=23 is of length 1"):
        ivf_assign(short, cents).collect()

    # zero-norm query: dropped like with_norm drops it, others unaffected
    with_zero = spark.createDataFrame(rows + [(30, [0.0] * 8)], schema)
    got = pq.pq_topk(with_zero, [0, 30], k=3, codebooks=cb).collect()
    assert {r["query_id"] for r in got} == {0}
    assert got == pq.pq_topk(with_zero, [0], k=3, codebooks=cb).collect()

    # an infinite query coordinate makes every cosine inf/inf = NaN:
    # NaN ranks first and the neighbor id breaks the tie, at any width
    with_inf = spark.createDataFrame(
        rows + [(40, [float("inf")] + [1.0] * 7)], schema
    )
    for width in (1, 4):
        top = pq.pq_topk(
            with_inf.repartition(width), [40], k=4, codebooks=cb
        ).collect()
        assert [r["neighbor_id"] for r in top] == [0, 1, 2, 3]
        assert all(math.isnan(r["cos_sim"]) for r in top)


def test_ann_pq_adc_job_count_and_map_in_arrow_plan(spark, sf_dir):
    """One ann_pq_adc call runs at most 8 Spark jobs (seed collect,
    Lloyd pass, query collect, scoring pass + window + orderBy; the HOF
    plan ran 20) and one kmeans_embed call at most 5 (seed collect,
    Lloyd pass, assignment pass + orderBy; the HOF plan ran 11). Each
    executed plan runs through MapInArrow with no zip_with/aggregate
    fold left."""
    from mongoshake_spark.plans import QUERIES
    from mongoshake_spark.sources.tables import load_table

    sc = spark.sparkContext
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    for name, max_jobs, n_rows in (
        ("ann_pq_adc", 8, 50),
        ("kmeans_embed", 5, n_vecs),
    ):
        group = f"test-{name}-jobs"
        sc.setJobGroup(group, group)
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            assert len(df.collect()) == n_rows, name
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(jobs) <= max_jobs, (name, sorted(jobs))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        assert "zip_with" not in plan and "aggregate(" not in plan, plan
