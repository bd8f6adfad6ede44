"""Dedup-family scale-shape tests: the 64-bit SimHash production path
(band-key cardinality, hot-bucket re-split, brute-force equivalence) and
the ngram-Jaccard max-DF cutoff.

These pin the round-2 verdict's scale fixes: the 32-bit SimHash's 4x8-bit
bands gave <= 1,024 distinct join keys (guaranteed hot buckets at corpus
scale); the production path must expose >= 2^16 keys and bound any bucket
that still runs hot.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongoshake_spark.functions import dedup


def test_fnv1a64_reference_values():
    # pinned so the DuckDB oracle twin (plans/queries._FNV64_DD) can't drift
    assert dedup._fnv1a64("") == 14695981039350211365
    assert dedup._fnv1a64("abc") == 4026407469507811147


def test_simhash64_band_key_space(spark):
    """The production band join must have >= 2^16 distinct keys available
    (vs 4x256 for the 32-bit form): feed 70k synthetic fingerprints whose
    low band enumerates the full 16-bit range."""
    sims = spark.range(70_000).select(
        F.col("id").alias("doc_id"), F.col("id").alias("simhash")
    )
    distinct_keys = (
        dedup.simhash_band_keys(sims).select("k", "band_val").distinct().count()
    )
    assert distinct_keys >= 1 << 16


def test_simhash64_band_of_negative_fingerprint(spark):
    """(simhash >> s) & 65535 on the SIGNED bigint must equal the unsigned
    band — the top band of a fingerprint with bit 63 set is the case the
    arithmetic-shift correction argument covers."""
    u = 0xFEDC_BA98_7654_3210
    signed = u - (1 << 64)
    sims = spark.createDataFrame([(1, signed)], "doc_id bigint, simhash bigint")
    rows = {r["k"]: r["band_val"] for r in dedup.simhash_band_keys(sims).collect()}
    assert rows == {0: 0x3210, 1: 0x7654, 2: 0xBA98, 3: 0xFEDC}


def test_simhash64_pairs_match_bruteforce(spark, sf_dir):
    """Without a cap the band join is exact (pigeonhole): same pair set as
    the all-pairs xor/bit_count join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sims = dedup.simhash_values64(docs).persist()
    via_bands = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_pairs64(docs, sims=sims).collect()
    }
    x, y = sims.alias("x"), sims.alias("y")
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in x.join(y, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert via_bands == brute


def test_simhash32_pairs_match_bruteforce_without_repeats(spark, sf_dir):
    """The 32-bit path shares the 64-bit band join and its lowest-band
    emission: the pair set equals the all-pairs xor/bit_count join, and
    no (doc_a, doc_b) comes out twice although a close pair matches in
    several 8-bit bands."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs).collect()
    ]
    assert len({(a, b) for a, b, _ in rows}) == len(rows)
    sims = dedup.simhash_values(docs)
    x, y = sims.alias("x"), sims.alias("y")
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in x.join(y, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert brute and set(rows) == brute


def test_simhash64_bucket_cap_resplit(spark):
    """A hot bucket (many docs sharing one band value) must be re-split by
    extra fingerprint bits, and identical-fingerprint pairs must survive
    the re-split (they agree on every bit, hence on any borrowed sub-key).

    Fixture: 20 groups x 30 docs with identical in-group fingerprints of
    the form g << 16 — ALL 600 share band k=0 (low 16 bits = 0), a
    600-doc hot bucket under cap 50."""
    rows = [(g * 30 + i, g << 16) for g in range(20) for i in range(30)]
    sims = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    pairs = dedup.simhash_pairs64(
        spark.range(0), sims=sims, bucket_cap=50
    ).collect()
    # expected: every within-group pair at hamming 0; cross-group
    # fingerprints differ in >3 bits for most g-pairs, and any that don't
    # would also appear in the uncapped exact set — assert the capped run
    # finds at least all identical pairs and nothing at hamming > 3
    ident = {(a, b) for a, b, h in ((r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs) if h == 0}
    expected_ident = {
        (g * 30 + i, g * 30 + j)
        for g in range(20)
        for i in range(30)
        for j in range(i + 1, 30)
    }
    assert ident == expected_ident
    assert all(r["hamming"] <= 3 for r in pairs)


def test_ngram_max_df_drops_boilerplate(spark):
    """A shingle present in every doc must not generate pairs when max_df
    cuts it; docs that only share boilerplate fall below threshold."""
    boiler = "the quick brown fox"
    rows = [(i, f"{boiler} unique{i} token{i} tail{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    with_cut = dedup.ngram_jaccard_pairs(docs, max_df=3).collect()
    no_cut = dedup.ngram_jaccard_pairs(docs).collect()
    assert with_cut == []  # only boilerplate shingles were shared
    assert len(no_cut) > 0


def test_duplicate_clusters_chain_and_singleton(spark):
    """Components: a chain (1-2, 2-3), an isolated pair (10-11), and a
    singleton (99) — labels = min reachable id; chain needs >1 round."""
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 12-node path graph (worst-case diameter) must still converge to a
    single component within the round cap."""
    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_duplicate_clusters_raises_instead_of_partial_labels(spark):
    """Round-4 guard: a component whose diameter exceeds the round cap must
    error loudly — unconverged labels are silent wrong answers."""
    import pytest

    n = 30
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge.*algorithm='star'"):
        dedup.duplicate_clusters(docs, pairs=pairs, max_iter=4)


def test_duplicate_clusters_star_closes_long_chains(spark):
    """large-star/small-star contraction: the same chain that out-runs the
    propagation cap converges in O(log n) rounds, and the two algorithms
    agree on a mixed graph (chain + pair + singleton)."""
    n = 30
    docs = spark.createDataFrame(
        [(i,) for i in list(range(n)) + [50, 51, 99]], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(51, 50)], "doc_a long, doc_b long"
    )
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            docs, pairs=pairs, max_iter=10, algorithm="star"
        ).collect()
    }
    expected = {i: 0 for i in range(n)} | {50: 50, 51: 50, 99: 99}
    assert star == expected
    prop = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            docs, pairs=pairs, max_iter=40, algorithm="propagation"
        ).collect()
    }
    assert prop == star


def test_pack_sequences_chops_at_budget(spark):
    """Concat-and-chop semantics: positions follow the running token
    stream; a doc straddling the budget boundary starts in the earlier
    sequence at its true offset."""
    from mongoshake_spark.functions.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "j")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["offset"])
        for r in pack_sequences(docs, budget=4).collect()
    }
    # stream: doc1 [0,3) seq0; doc2 [3,7) starts seq0@3, straddles into
    # seq1; doc3 [7,9) seq1@3, straddles; doc4 [9,10) seq2@1
    assert got == {1: (3, 0, 0), 2: (4, 0, 3), 3: (2, 1, 3), 4: (1, 2, 1)}


def test_sample_strata_subset_property(spark):
    """Lower keep-rates must select SUBSETS of higher rates (the hash is
    fixed, only the threshold moves) — re-mixing never resamples."""
    from mongoshake_spark.functions.packing import sample_strata

    docs = spark.createDataFrame(
        [(i, "x", "en") for i in range(500)], "doc_id bigint, text string, lang string"
    )
    low = {r["doc_id"] for r in sample_strata(docs, {"en": 0.2}).collect()}
    high = {r["doc_id"] for r in sample_strata(docs, {"en": 0.6}).collect()}
    assert low <= high
    assert 0.1 < len(low) / 500 < 0.3 and 0.5 < len(high) / 500 < 0.7


def test_incremental_minhash_finds_cross_and_self_pairs(spark):
    from mongoshake_spark.functions import dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "completely different words here not matching"),
        ],
        "doc_id bigint, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # dup of corpus 1
            (11, "alpha beta gamma delta epsilon zeta"),   # dup of corpus 1 AND inc 10
            (12, "nothing like anything else whatsoever okay"),
        ],
        "doc_id bigint, text string",
    )
    bands = dedup.minhash_bands(corpus)
    got = {
        (r["doc_a"], r["doc_b"], r["origin"])
        for r in dedup.incremental_minhash_pairs(bands, inc).collect()
    }
    assert (1, 10, "corpus") in got
    assert (1, 11, "corpus") in got
    assert (10, 11, "increment") in got
    assert not any(a == 12 or b == 12 for a, b, _ in got)
    # the corpus pair (1,2) must NOT be re-derived — corpus never self-joins
    assert not any(o == "corpus" and b in (1, 2) for _, b, o in got)


def test_winnow_guarantees_shared_run_detected(spark):
    from mongoshake_spark.functions.dedup import winnow_fingerprints, winnow_pairs

    # k=3, w=4: any shared token run of >= w+k-1 = 6 tokens must yield at
    # least one shared fingerprint (the winnowing guarantee).
    shared_run = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared_run} one two three four five"),
            (2, f"nine eight seven six {shared_run}"),
            (3, "wholly unrelated words with no overlap at all here"),
        ],
        "doc_id bigint, text string",
    )
    pairs = winnow_pairs(docs, k=3, w=4, min_shared=1).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got
    assert not any(3 in p for p in got)
    # density: far fewer fingerprints than gram positions
    fp = winnow_fingerprints(docs, k=3, w=4)
    n_grams = sum(len(r["text"].split()) - 2 for r in docs.collect())
    assert fp.count() < n_grams


def test_winnow_short_docs(spark):
    from mongoshake_spark.functions.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "two tokens"), (2, "exactly three tokens"), (3, "four tokens in here")],
        "doc_id bigint, text string",
    )
    from collections import Counter

    # doc 1 has no 3-gram -> no fingerprints; docs 2/3 have < w grams ->
    # one whole-doc window each -> exactly one fingerprint
    got = Counter(r["doc_id"] for r in winnow_fingerprints(docs, k=3, w=4).collect())
    assert got == {2: 1, 3: 1}


def test_minhash_estimate_identical_docs_agree_fully(spark):
    from mongoshake_spark.functions.dedup import minhash_estimate_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, text),
            (2, text),  # identical -> all 16 components agree
            (3, "alpha beta gamma delta epsilon zeta eta NINE"),  # near-dup
            (4, "totally different words in this other document here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_agree"], r["est_jaccard"])
        for r in minhash_estimate_pairs(docs).collect()
    }
    assert got[(1, 2)] == (16, 1.0)
    # near-dup shares most shingles -> candidate with partial agreement
    if (1, 3) in got:
        n, est = got[(1, 3)]
        assert 1 <= n < 16 and est == round(n / 16.0, 4)
    # the unrelated doc shares no band with anything
    assert not any(4 in p for p in got)


def test_simhash_max_hamming_guard(spark):
    import pytest

    from mongoshake_spark.functions.dedup import simhash_pairs, simhash_pairs64

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs64(docs, max_hamming=4)


def test_dedup_scale_proof_invariants(spark, sf_dir):
    """The BASELINE.md dedup scale proof (scripts/dedup_scale_proof.py)
    must stay reproducible: on the skewed fixture, max_df collapses the
    inverted-index candidate-pair term, the simhash hot-bucket census
    engages, and identical-fingerprint pairs survive the re-split."""
    import scripts.dedup_scale_proof as proof
    from pyspark.sql import functions as F

    corpus = proof.skewed_corpus(spark, sf_dir).localCheckpoint(eager=True)
    sh = dedup.shingle_rows(corpus, "text").localCheckpoint(eager=True)
    cand_raw, maxdf_raw, _ = proof.posting_stats(sh)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sh_cap = sh.join(
        df_counts.filter(F.col("df") <= proof.MAX_DF).select("shingle"), "shingle"
    )
    cand_cap, maxdf_cap, _ = proof.posting_stats(sh_cap)
    assert maxdf_raw >= proof.BOILER_DOCS  # the skew is really there
    assert maxdf_cap <= proof.MAX_DF
    assert cand_cap < cand_raw / 10  # the quadratic term collapsed

    sims = dedup.simhash_values64(corpus, "text").localCheckpoint(eager=True)
    keyed = dedup.simhash_band_keys(sims)
    census = keyed.groupBy("k", "band_val").agg(F.count("*").alias("n"))
    assert census.filter(F.col("n") > proof.BUCKET_CAP).count() > 0
    pairs_capped = dedup.simhash_pairs64(
        corpus, sims=sims, bucket_cap=proof.BUCKET_CAP
    )
    ident = (
        sims.groupBy("simhash").agg(F.count("*").alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("p")).first()["p"]
    )
    assert pairs_capped.filter(F.col("hamming") == 0).count() == int(ident or 0)


def test_source_duplicate_stats_known_case(spark):
    """Hand-checkable: srcA has 3 docs (one duplicated within srcA, one
    copied by srcB); srcB has 2 docs (the copy + a unique one)."""
    rows = [
        (1, "aaa", "srcA"),
        (2, "aaa", "srcA"),   # within-source dup of 1
        (3, "bbb", "srcA"),   # copied by srcB
        (4, "bbb", "srcB"),   # cross-source dup of 3
        (5, "ccc", "srcB"),   # unique
    ]
    rows.append((6, None, "srcB"))  # NULL text: counted, never a dup
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"], r["n_cross_source_dup_docs"])
        for r in dedup.source_duplicate_stats(docs).collect()
    }
    assert got == {"srcA": (3, 3, 1), "srcB": (3, 1, 1)}


def test_ann_recall_proof_invariants(spark, sf_dir):
    """The BASELINE.md ANN proof must stay reproducible at test scale:
    IVF recall is monotone in n_probe and probing every cell recovers
    the exact brute-force top-k."""
    import scripts.ann_recall_proof as proof
    from pyspark.sql import functions as F

    from mongoshake_spark.functions import similarity
    from mongoshake_spark.sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    qids = [r["vec_id"] for r in vecs.select("vec_id").orderBy("vec_id").limit(10).collect()]
    exact = proof.topk_sets(similarity.brute_topk(vecs, qids, k=5))
    centroids = vecs.filter((F.col("vec_id") % 29) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    n_cells = similarity.ivf_assign(vecs, centroids).select("cell").distinct().count()
    r_lo = proof.recall(
        proof.topk_sets(similarity.ivf_topk(vecs, qids, k=5, n_probe=1)), exact
    )
    r_hi = proof.recall(
        proof.topk_sets(similarity.ivf_topk(vecs, qids, k=5, n_probe=4)), exact
    )
    r_all = proof.recall(
        proof.topk_sets(similarity.ivf_topk(vecs, qids, k=5, n_probe=n_cells)), exact
    )
    assert r_lo <= r_hi <= r_all == 1.0


def test_ngram_containment_asymmetric(spark):
    """A short doc fully inside a long one: containment fires in the
    inner->outer direction with containment 1.0; the reverse direction
    (long inside short) must NOT fire; an unrelated doc never pairs."""
    long_text = "a b c d e f g h i j k l"
    short_text = "c d e f g"           # 3 shingles, all inside long's 10
    other_text = "x y z w v u"
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other_text)],
        "doc_id long, text string",
    )
    pairs = {
        (r["inner_id"], r["outer_id"]): (r["common"], r["n_inner"])
        for r in dedup.ngram_containment_pairs(docs, num=4, den=5).collect()
    }
    assert pairs == {(2, 1): (3, 3)}  # 3/3 shingles contained; reverse is 3/10
    # Jaccard at the same strictness misses it: 3 common / 10 union = 0.3
    jac = dedup.ngram_jaccard_pairs(docs, num=4, den=5).collect()
    assert jac == []


def test_dedup_lines_boilerplate_removal(spark):
    """Corpus-level line dedup: a line in >= 2 distinct docs is struck
    from ALL of them (including every in-doc repeat); in-doc repetition
    alone never triggers removal (df counts distinct docs); order and
    separators are preserved; an all-boilerplate doc keeps an empty
    clean_text; blank lines neither count nor survive."""
    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nunique alpha\ncookie banner"),
            (2, "cookie banner\nunique beta"),
            (3, "self repeat\nself repeat\nunique gamma"),
            (4, "cookie banner"),
            (5, "  \n\nunique delta\n "),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in dedup.dedup_lines(docs, min_df=2).collect()
    }
    assert out[1] == ("unique alpha", 1, 2)
    assert out[2] == ("unique beta", 1, 1)
    # in-doc repeats are NOT cross-doc boilerplate: df('self repeat') = 1
    assert out[3] == ("self repeat\nself repeat\nunique gamma", 3, 0)
    assert out[4] == ("", 0, 1)
    assert out[5] == ("unique delta", 1, 0)
    assert set(out) == {1, 2, 3, 4, 5}


def test_dedup_lines_literal_separator(spark):
    """The separator is a LITERAL on both the split and reassembly side:
    a sep containing regex metacharacters ('|', '.') must not explode
    into per-character splits, and clean_text must round-trip with the
    same separator."""
    docs = spark.createDataFrame(
        [
            (1, "boiler|unique alpha|boiler"),
            (2, "boiler|unique beta"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in dedup.dedup_lines(docs, min_df=2, sep="|").collect()
    }
    assert out[1] == ("unique alpha", 1, 2)
    assert out[2] == ("unique beta", 1, 1)
    # multi-char metachar separator round-trips too
    docs2 = spark.createDataFrame(
        [(1, "keep one.*keep two"), (2, "other line")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.dedup_lines(docs2, min_df=2, sep=".*").collect()
    }
    assert out2[1] == "keep one.*keep two"


def test_vectorized_hash_kernels_bit_identical():
    """The numpy batch hashes that drive minhash/simhash signatures must
    be bit-identical to the scalar folds the oracles replay: polynomial
    (31, mod 1e9+7) over codepoints and FNV-1a 64 over
    codepoints-mod-256 — including unicode, empty strings, and
    single-char / long inputs."""
    import random

    import numpy as np

    from mongoshake_spark.functions.dedup import _fnv1a64, _fnv1a64_numpy
    from mongoshake_spark.functions.texthash import poly_hash_numpy

    def poly_scalar(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    rng = random.Random(7)
    alphabet = "abz019 _-€éü日本"
    cases = ["", " ", "a", "é", "x" * 500, "tok1 tok2 tok3"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(300)
    ]
    pv = poly_hash_numpy(cases)
    assert pv.dtype == np.int64
    assert [int(x) for x in pv] == [poly_scalar(s) for s in cases]
    fv = _fnv1a64_numpy(cases)
    assert fv.dtype == np.uint64
    assert [int(x) for x in fv] == [_fnv1a64(s) for s in cases]


def test_minhash_compositional_shingle_hash_matches_string_hash(spark):
    """minhash_signatures composes each 3-token shingle hash from token
    hashes (H(x‖y) = H(x)·31^len(y) + H(y) mod M) without building the
    shingle string; the signatures must equal the definitional form
    (hash of the joined string, distinct-set minima) exactly."""
    import numpy as np

    from mongoshake_spark.functions.dedup import (
        MOD,
        N_MINHASH,
        _poly,
        minhash_signatures,
    )

    texts = [
        (1, "alpha beta gamma delta alpha beta gamma"),  # repeated shingles
        (2, "one two three"),
        (3, "short doc"),  # < 3 tokens -> no row
        (4, "a b c d e f g h"),
        (5, "unicode é€ tokens 日本 mixed in here"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: [r[f"m{i}"] for i in range(N_MINHASH)]
        for r in minhash_signatures(docs).collect()
    }
    assert set(got) == {1, 2, 4, 5}
    coef_a = np.array([2 * i + 1 for i in range(N_MINHASH)], dtype=np.int64)
    coef_b = np.array([7919 * i for i in range(N_MINHASH)], dtype=np.int64)
    for doc_id, txt in texts:
        toks = txt.split(" ")
        if len(toks) < 3:
            continue
        hs = {_poly(" ".join(toks[i : i + 3])) for i in range(len(toks) - 2)}
        hv = np.fromiter(hs, np.int64, len(hs))
        want = ((coef_a[:, None] * hv[None, :] + coef_b[:, None]) % MOD).min(
            axis=1
        )
        assert got[doc_id] == [int(x) for x in want], doc_id


def test_source_overlap_exact_jaccard_and_sketch_bounds(spark):
    # srcA vocab {a,b,c}, srcB vocab {b,c,d}, srcC vocab {x}
    rows = [
        (1, "a b c", "srcA"),
        (2, "b c d", "srcB"),
        (3, "x", "srcC"),
        (4, "x x", "srcC"),  # multiset min == set min: dup tokens no-op
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["src_a"], r["src_b"]): r for r in dedup.source_overlap(docs).collect()
    }
    ab = got[("srcA", "srcB")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (3, 3, 2)
    assert ab["exact_jaccard"] == 0.5
    ac = got[("srcA", "srcC")]
    assert ac["n_common"] == 0 and ac["exact_jaccard"] == 0.0
    # disjoint vocabularies: sketch coordinates agree only by collision
    # (none among 4 distinct tokens and 16 permutations of a 1e9+7 space)
    assert ac["minhash_est"] == 0.0
    # every estimate is a fraction of 16 agreements in [0, 1]
    for r in got.values():
        assert 0.0 <= r["minhash_est"] <= 1.0
        assert round(r["minhash_est"] * 16, 6) == int(round(r["minhash_est"] * 16))


def test_source_overlap_identical_sources_estimate_one(spark):
    rows = [
        (1, "p q r s", "s1"),
        (2, "p q r s", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = dedup.source_overlap(docs).collect()[0]
    assert r["exact_jaccard"] == 1.0
    assert r["minhash_est"] == 1.0  # identical vocab -> identical signature


def test_source_overlap_sketch_only_mode(spark):
    """include_exact=False (the documented 100 TB path) must skip the
    vocabulary self-join entirely — sketch columns only, with estimates
    identical to the full mode's — so Catalyst never plans the exact
    n_common join at scale (round-9 ADVICE)."""
    rows = [
        (1, "a b c", "srcA"),
        (2, "b c d", "srcB"),
        (3, "x", "srcC"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sk = dedup.source_overlap(docs, include_exact=False)
    assert sk.columns == ["src_a", "src_b", "minhash_est"]
    # the pruned plan never aggregates the distinct vocabulary
    assert "n_common" not in sk._jdf.queryExecution().optimizedPlan().toString()
    full = {
        (r["src_a"], r["src_b"]): r["minhash_est"]
        for r in dedup.source_overlap(docs).collect()
    }
    got = {(r["src_a"], r["src_b"]): r["minhash_est"] for r in sk.collect()}
    assert got == full


def test_unicode_canon_kernel(spark):
    """The Unicode canonicalization kernel: composed and decomposed accent
    spellings land in ONE group (NFC), sharp-s casefolds to 'ss'
    (strictly stronger than lower), Python's Unicode \\s collapses NBSP,
    NULLs pass through, and NFKC additionally folds fullwidth forms."""
    rows = [
        (1, "café STRASSE"),        # composed e-acute, upper
        (2, "café straße"),   # decomposed + sharp s
        (3, "café straße"),  # NBSP between words
        (4, None),
        (5, "ＡBC"),                 # fullwidth A: NFC keeps, NFKC folds
        (6, "abc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    canon = {
        r["doc_id"]: r["c"]
        for r in docs.select(
            "doc_id", dedup.unicode_canon("text").alias("c")
        ).collect()
    }
    assert canon[1] == canon[2] == canon[3] == "café strasse"
    assert canon[4] is None
    assert canon[5] != "abc"  # NFC preserves the fullwidth letter

    groups = dedup.unicode_exact_groups(docs).collect()
    by_keep = {r["keep_id"]: r["n_docs"] for r in groups}
    assert by_keep[1] == 3  # docs 1,2,3 merged into one group

    nfkc = {
        r["doc_id"]: r["c"]
        for r in docs.select(
            "doc_id", dedup.unicode_canon("text", form="NFKC").alias("c")
        ).collect()
    }
    assert nfkc[5] == "abc"  # NFKC folds the fullwidth form

    import pytest

    with pytest.raises(ValueError, match="normalization form"):
        dedup.unicode_canon("text", form="NFX")
