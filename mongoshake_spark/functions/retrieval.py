"""Full-text relevance retrieval: BM25 scoring over the document corpus.

The reference engine replicates document stores; the pipelines its data
feeds (and any training-data curation stack) need a relevance primitive —
select the documents most relevant to a query — for targeted corpus
slicing, eval-set mining, and quality-by-topicality filters. BM25
(Robertson et al., the Okapi form with the standard "+1" idf smoothing
used by Lucene) is the canonical lexical ranker.

Scale shape: the ONLY corpus-wide aggregates are two scalars (N, avgdl)
and one |query|-row idf table. Per-document term frequencies for the
query terms are computed IN-ROW (``filter(tokens, t -> t IN terms)``
before any explode), so the per-doc work is map-side; the explode emits
at most |terms| rows per document — never the vocabulary — and the idf
table joins back as a broadcast. One corpus shuffle total (the per-doc
score aggregation), then a global top-k which Spark executes as
per-partition partial top-k + a k-row driver merge (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: tokenizer shared with the oracle: lowercase, split on non-alphanumeric
TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``tokens`` (lowercased, non-alphanumeric-delimited, empties
    dropped) and ``dl`` (document length in tokens)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda t: t != ""
    )
    return df.withColumn("tokens", toks).withColumn(
        "dl", F.size("tokens").cast("bigint")
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BM25 score against ``terms``:

        score(d) = sum_t idf(t) * tf(t,d)*(k1+1) / (tf(t,d) + k1*(1 - b + b*dl/avgdl))
        idf(t)   = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

    Only documents matching at least one term appear (score > 0 by
    construction — the +1 keeps idf positive even for terms in every doc).
    Returns ``(id_col, score)`` with the raw double score; callers round
    for cross-engine comparison.
    """
    if not terms:
        raise ValueError("bm25_scores: empty term list")
    tok = tokenize(docs.select(id_col, text_col), text_col)
    # two corpus scalars; computed once, joined in as a broadcast row
    stats = tok.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    terms_arr = F.array(*[F.lit(t) for t in terms])
    # in-row restriction to the query terms BEFORE explode: per-doc emit
    # is <= |terms| rows, the vocabulary never hits an exchange
    hits = tok.select(
        id_col,
        "dl",
        F.explode(F.filter("tokens", lambda t: F.array_contains(terms_arr, t))).alias(
            "term"
        ),
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias(
            "idf"
        ),
        "avgdl",
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        id_col,
        (
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        ).alias("part"),
    )
    return scored.groupBy(id_col).agg(F.sum("part").alias("score"))


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_a_col: str = "lex_rank",
    rank_b_col: str = "sem_rank",
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): full-outer join of two
    ranked candidate lists on ``id_col``; fused score = Σ 1/(rrf_k + rank)
    over the lists the doc appears in. Candidate lists are top-k-sized —
    the join is list-sized, never corpus-sized."""
    joined = ranked_a.select(id_col, rank_a_col).join(
        ranked_b.select(id_col, rank_b_col), id_col, "full_outer"
    )
    term_a = F.when(
        F.col(rank_a_col).isNotNull(), F.lit(1.0) / (F.lit(rrf_k) + F.col(rank_a_col))
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col(rank_b_col).isNotNull(), F.lit(1.0) / (F.lit(rrf_k) + F.col(rank_b_col))
    ).otherwise(F.lit(0.0))
    return joined.withColumn("rrf_score", F.round(term_a + term_b, 6))


def hybrid_rrf_topk(
    docs: DataFrame,
    vecs: DataFrame,
    terms: list[str],
    query_vec_id: int,
    k: int = 15,
    k_lex: int = 50,
    k_sem: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical candidates ∪ embedding-cosine
    semantic candidates, fused by reciprocal rank. ``vecs`` carries the
    corpus embeddings keyed by the same ids as ``docs`` (``vec_id_col``
    joins against ``id_col``); the semantic query vector is the corpus
    row ``query_vec_id`` (a stand-in for an encoded query).

    Both candidate lists cut to top-k FIRST with orderBy+limit — a
    TakeOrderedAndProject, per-partition partial top-k merged driver-
    side, so the scored corpus never shuffles for the rank — and ranks
    1..k are assigned on the driver over the k collected survivors
    (bounded by the operator's own ``k_lex``/``k_sem``, the same
    driver-residency contract as the k-means seed collect; the limit's
    total order IS the rank order). Each ranked list re-enters
    the plan as a k-row local relation, so the fusion join is k-sized.
    Scores are rounded to 6 decimals BEFORE ranking (rank ties then
    break by id), which is what makes the ranks — and therefore the
    fused scores — bit-identical across engines.
    """
    from mongoshake_spark.functions.similarity import dot_expr, with_norm

    lex = bm25_scores(docs, terms, id_col=id_col, text_col=text_col).select(
        id_col, F.round("score", 6).alias("lex_score")
    )
    lex = lex.withColumn("_neg", -F.col("lex_score"))
    lex_ranked = _ranked_topk_local(lex, id_col, k_lex, "lex_rank")

    unit = with_norm(vecs, vec_col)
    qrow = unit.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec"), F.col("vnorm").alias("qnorm")
    )
    sem = (
        unit.crossJoin(F.broadcast(qrow))
        .select(
            F.col(vec_id_col).alias(id_col),
            F.round(
                F.expr(dot_expr("qvec", vec_col)) / (F.col("qnorm") * F.col("vnorm")),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("_neg", -F.col("cos_sim"))
    )
    sem_ranked = _ranked_topk_local(sem, id_col, k_sem, "sem_rank")
    fused = rrf_fuse(lex_ranked, sem_ranked, id_col=id_col, rrf_k=rrf_k)
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()).limit(k)


#: hard ceiling on :func:`_ranked_topk_local`'s k — the collect below is
#: DRIVER-resident by design (bounded by the operator's own k, as the
#: k-means seed collect is); a caller passing an unbounded k would turn
#: it into an unguarded driver collect, so the bound is enforced loudly.
_RANKED_TOPK_MAX_K = 10_000


def _ranked_topk_local(
    scored: DataFrame, id_col: str, k: int, rank_col: str
) -> DataFrame:
    """``(id_col, rank 1..k)`` over a ``(_neg, id)``-ordered score table,
    as a k-row LOCAL relation. The top-k cut is a TakeOrderedAndProject
    (per-partition partial top-k, k-row driver merge — the scored corpus
    never shuffles); the rank over the k survivors is then pure counting
    in the already-established order, so it happens at the driver merge
    instead of re-entering the cluster. The former shape pushed the k
    rows back through the distributed prefix-sum machinery — an eager
    localCheckpoint job, a range exchange, a triangular offset join and
    a broadcast join per candidate list, all to number 50 rows whose
    order the limit had already fixed (guide §1.2 order-of-operations:
    the checkpoint/exchange cost was per-QUERY fixed overhead, and at
    100 TB the k-row driver residency is bounded by the operator's own
    ``k`` — as the k-means seed collect is — not by data size)."""
    if k > _RANKED_TOPK_MAX_K:
        raise ValueError(
            f"_ranked_topk_local: k={k} exceeds the driver-residency "
            f"ceiling {_RANKED_TOPK_MAX_K} — the k rows are collected to "
            "the driver by design; use the distributed ranking path for "
            "larger k"
        )
    rows = (
        scored.select(id_col, "_neg")
        .orderBy(F.col("_neg").asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    # TakeOrderedAndProject returns rows in order; the re-sort is a
    # k-row defensive pin of the rank order, not data work
    rows.sort(key=lambda r: (r["_neg"], r[id_col]))
    id_type = scored.schema[id_col].dataType.simpleString()
    return scored.sparkSession.createDataFrame(
        [(r[id_col], i + 1) for i, r in enumerate(rows)],
        f"{id_col} {id_type}, {rank_col} bigint",
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 score (rounded to 6 decimals for a
    portable total order), ties broken by ascending id. The global sort
    is a ``TakeOrderedAndProject`` — per-partition top-k then a k-row
    driver merge, never a full-corpus ordered shuffle."""
    scored = bm25_scores(docs, terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
    return (
        scored.select(id_col, F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _tf_df(docs: DataFrame, id_col: str, text_col: str):
    """``(tok, tf, df_t)`` — the shared first stage of every term-weighted
    operator here: tokenized corpus (with ``dl``), per-(doc, term) counts
    carrying the doc length, and the vocabulary document frequencies.
    Compositions (``hard_negatives``) compute this ONCE and thread it
    through, so the corpus is tokenized and term-counted a single time.
    """
    tok = tokenize(docs.select(id_col, text_col), text_col)
    tf = (
        tok.select(id_col, "dl", F.explode("tokens").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    return tok, tf, df_t


#: tf tables (and anchor keyword rollups) persisted by
#: :func:`hard_negatives` and not yet released — the same cache-lifetime
#: contract as dedup._PERSISTED_INDEXES
_PERSISTED_TF: list = []


def release_tf_tables() -> int:
    """Unpersist every tf/keyword table still cached by
    :func:`hard_negatives` calls in this session; returns how many were
    released. Safe while a consumer plan is still lazy — Spark recomputes
    uncached parents — so call it once the mined output is materialized."""
    n = len(_PERSISTED_TF)
    while _PERSISTED_TF:
        df = _PERSISTED_TF.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session stopped: its blocks
            pass  # died with it; the registry entry is all that's left
    return n


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tfdf: tuple | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Per-document keyword extraction: the ``top_k`` terms by tf-idf,
    ``score = tf · N / df`` — the LINEAR idf variant (Sparck Jones'
    ``n/df`` family). Why linear and not ``ln(N/df)``: the ranking is
    the product of three exact integers mapped through one IEEE
    division, so the selected terms and their scores reproduce
    bit-identically in the DuckDB oracle with no libm dependence (BM25
    already covers the log-idf shape). Downstream uses: per-doc topical
    routing, cluster labeling, index pruning.

    Returns ``(id_col, term, rank, score)`` with rank 1..top_k per doc.

    Scale shape: tokenization and the (doc, term) count run map-side
    partial aggregation; ``df`` is a second vocabulary-keyed aggregate
    of the tf table (already distinct per doc — no extra distinct), and
    the tf⋈df join is term-keyed, so both sides share the vocabulary
    partitioning. The per-doc rank window partitions by doc — groups
    bounded by a document's distinct-term count, never corpus-global.

    ``tfdf`` / ``stats`` are the composition hooks: pass a precomputed
    ``_tf_df`` triple and an ``n_docs``-bearing stats row so a caller
    (``hard_negatives``) that already built them does not tokenize and
    count the corpus again.
    """
    tok, tf, df_t = tfdf if tfdf is not None else _tf_df(docs, id_col, text_col)
    if stats is None:
        stats = tok.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            id_col,
            "term",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "rank", F.round("score", 6).alias("score"))
    )


def hard_negatives(
    docs: DataFrame,
    anchor_ids,
    top_terms: int = 3,
    k: int = 5,
    overlap_n: int = 8,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the DPR /
    sentence-transformers recipe): for each anchor document, the top-``k``
    corpus documents that score HIGH on the anchor's topical terms (BM25
    over its top-``top_terms`` tf-idf keywords — lexically confusable)
    but share NO ``overlap_n``-token-gram with the anchor (not a copy or
    near-copy — those would be false negatives that poison the loss).
    Returns ``(anchor_id, neg_id, rank, score)``.

    Scale shape: everything anchor-sized broadcasts. Keyword extraction
    reuses ``tfidf_top_terms`` over the SAME ``_tf_df`` stage that feeds
    candidate scoring (one tokenize, one (doc, term) count, one df
    aggregate in the source); candidate scoring is the tf table joined
    to the |anchors|·top_terms broadcast term list (per-doc emit bounded
    by the term list, the vocabulary never re-shuffles); the overlap
    excluder is ``decontaminate``'s shape — anchor grams broadcast,
    corpus grams anti-joined. No doc-to-doc pairs ever materialize
    beyond the (anchor, candidate) hits themselves.

    The shared ``(doc, term)`` tf table feeds three consumers (the
    keyword branch, the ``df`` aggregate, and candidate scoring), so it
    is persisted here by default — ONE tokenize + count for the whole
    composition instead of one per consumer subtree (Catalyst's column
    pruning specializes the consumers, so without the cache the shuffle
    re-runs per subtree). Cached tables register like dedup's shingle
    indexes; call :func:`release_tf_tables` once the output is
    materialized. Keyword extraction additionally filters the tf side
    to ``anchor_ids`` BEFORE the scoring join and the per-doc rank
    window, so the keyword window's input is anchor-sized by
    construction (not by relying on Catalyst's filter-through-window
    pushdown).
    """
    from mongoshake_spark.functions.curation import _doc_ngrams

    from mongoshake_spark.operators.parallel import fan_out_scan

    anchor_ids = list(anchor_ids)
    # fan the corpus scan once for the whole composition: tokenize, the
    # (doc, term) count map side and the 8-gram explode are all heavy
    # PRE-shuffle stages that otherwise run at scan width — an
    # under-split corpus file serialized them on 2 tasks of a 32-core
    # run (sf1 scaling fixture, BENCH_SCALING.md); same rule as the
    # curation gram lanes
    docs = fan_out_scan(docs)
    # one tokenize + one (doc, term) count + one df aggregate feed BOTH
    # the keyword extraction and the candidate scoring
    tok, tf, df_t = _tf_df(docs, id_col, text_col)
    # explicit-width repartition before the persist: the (doc, term)
    # rows are narrow, so AQE coalesces the count shuffle's output to
    # ~2 partitions by BYTES — and the cache then freezes that width
    # for all three consumers, serializing the candidate-scoring map
    # side (measured 11 s on 2 tasks of a 32-core run at the sf1
    # scaling fixture; BENCH_SCALING.md). An explicit repartition is
    # exempt from AQE coalescing; one narrow exchange buys full stage
    # width on every cache consumer. Downstream aggregates re-key
    # anyway, and the BM25 sum is rounded to 6 dp before ranking, so
    # ulp-level reorder noise is absorbed except at exact boundaries.
    tf = tf.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tf = tf.persist()
    _PERSISTED_TF.append(tf)
    # the two corpus scalars are consumed by TWO broadcast crossJoins
    # (keyword scoring and idf) — as a lazy aggregate each broadcast
    # build re-tokenized the whole corpus to produce the same one row,
    # so it is collected ONCE (a single corpus pass, one-row driver
    # residency) and re-enters both plans as a local relation; the
    # collected doubles round-trip bit-exactly
    srow = tok.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).collect()[0]
    stats = docs.sparkSession.createDataFrame(
        [(srow["n_docs"], srow["avgdl"])], "n_docs double, avgdl double"
    )
    # anchor pushdown: the keyword scoring join and its rank window only
    # ever see the anchors' tf rows (df/stats stay corpus-wide, so idf
    # semantics are unchanged); the result is |anchors|*top_terms and
    # feeds two joins below, so it is persisted too — otherwise the
    # whole keyword subtree re-plans once per consumer
    anchor_terms = (
        tfidf_top_terms(
            docs,
            top_k=top_terms,
            id_col=id_col,
            text_col=text_col,
            tfdf=(tok, tf.filter(F.col(id_col).isin(anchor_ids)), df_t),
            stats=stats,
        )
        .select(F.col(id_col).alias("anchor_id"), "term")
        .persist()
    )
    _PERSISTED_TF.append(anchor_terms)
    # idf ONLY for the anchors' terms — df_t is the full vocabulary, and
    # broadcasting it whole would ship (and driver-collect) millions of
    # terms at corpus scale; the semi-join keeps it |anchors|*top_terms
    idf = (
        df_t.join(
            F.broadcast(anchor_terms.select("term").distinct()), "term", "left_semi"
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
            "avgdl",
        )
    )
    cand = (
        tf.withColumn("tf", F.col("tf").cast("double"))
        .join(F.broadcast(anchor_terms), "term")
        .join(F.broadcast(idf), "term")
        .filter(F.col(id_col) != F.col("anchor_id"))
        .groupBy("anchor_id", F.col(id_col).alias("neg_id"))
        .agg(
            # rounded BEFORE ranking (bm25_topk's contract): the float
            # sum's partial-merge order is nondeterministic, and ranks
            # must not hinge on sub-rounding noise
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    * (k1 + 1.0)
                    / (
                        F.col("tf")
                        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    # docs already scan-fanned above — the gram explode shares the width
    grams = _doc_ngrams(docs, overlap_n, text_col, id_col)
    anchor_grams = grams.filter(F.col(id_col).isin(anchor_ids)).select(
        F.col(id_col).alias("anchor_id"), "gram"
    )
    overlap = (
        grams.join(F.broadcast(anchor_grams), "gram")
        .select("anchor_id", F.col(id_col).alias("neg_id"))
        .distinct()
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("neg_id").asc()
    )
    return (
        cand.join(overlap, ["anchor_id", "neg_id"], "left_anti")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "rank", "score")
    )


def hash_tfidf_vectors(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tvec",
    round_digits: int = 6,
) -> DataFrame:
    """Feature-hashed TF-IDF document vectors (the hashing trick,
    Weinberger et al. 2009): every whitespace token is weighted
    tf · (ln((N+1)/(df+1)) + 1) and summed into bucket
    poly_hash(token) % dim — a dense ``array<double>`` embedding of the
    text with NO trained model and NO vocabulary table, which drops the
    documents table straight into the vector plane (cosine near-dup,
    LSH prebucketing, PCA/OPQ, ANN all operate on it unchanged).

    Scale shape: tokenize/count is map-side + one (doc, token) combine;
    document frequencies are a COUNT window over the one token-keyed
    exchange (never a vocabulary broadcast — the vocab can exceed
    memory at corpus scale — and never a second tok shuffle for a
    join-back); bucket-summing is one (doc, dim) combine with map-side
    partials; densification builds a per-doc <= dim-entry map in-row
    and re-attaches it by id WITHOUT the text payload riding the
    exchange. The only driver scalar is N = docs.count().
    Weights are rounded AFTER the bucket sum so both engines fold
    identical doubles downstream (the poly hash is the dialect-portable
    one from functions/texthash).

    Tokenizer is the dedup family's raw whitespace split (NOT bm25's
    lowercased alnum split) so hashed vectors agree with the shingle
    machinery about what a token is.

    Returns the input columns MINUS ``text_col`` plus ``out_col`` —
    the text payload's job ends at tokenization and must not ride the
    densification exchange."""
    from mongoshake_spark.functions.texthash import poly_hash_spark

    n_docs = docs.count()  # bounded: one scalar
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    # document frequency as a tok-partitioned COUNT window over the tf
    # table itself — the former (groupBy(tok) aggregate + join back on
    # tok) shuffled the token-keyed table TWICE for the same integer;
    # the window needs the one tok exchange it shares with nothing
    # (guide §2.4: two operations keyed the same way share one
    # exchange). Counts are integers — idf is bit-identical.
    wt = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("tok"))
        )
        .withColumn(
            "dim", F.expr(f"({poly_hash_spark('tok')}) % {dim}").cast("int")
        )
        .withColumn(
            "wt",
            F.col("tf")
            * F.round(
                F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0),
                round_digits,
            ),
        )
    )
    sparse = wt.groupBy(id_col, "dim").agg(
        F.round(F.sum("wt"), round_digits).alias("w")
    )
    m = sparse.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "w"))).alias("_m")
    )
    # the dense build re-attaches per-doc maps to the doc rows by id;
    # the text column must not ride that exchange (guide §2.3: project
    # before the exchange — the payload's job here is done once toks
    # exist)
    dense = docs.drop(text_col).join(m, id_col, "left").withColumn(
        out_col,
        F.array(
            *[
                F.coalesce(F.element_at("_m", F.lit(d)), F.lit(0.0))
                for d in range(dim)
            ]
        ),
    )
    return dense.drop("_m")


def hash_vector_neardup(
    docs: DataFrame,
    threshold: float = 0.95,
    block_col: str = "lang",
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate document pairs by cosine over the hashed TF-IDF
    vectors — text near-dup through the VECTOR plane (weighted-cosine
    semantics: catches reorderings and heavy-overlap rewrites that
    byte/shingle dedup scores differently). Pairs are blocked on
    ``block_col`` (a metadata key near-dups share — language here), the
    standard blocking step that keeps the candidate set sum-of-blocks²
    instead of corpus²; for unblocked scale the vectors drop into
    similarity.neardup_pairs(prebucket='lsh') unchanged, which is the
    recall-gated production path. Scoring is the tiled numpy block
    scan (vectorized A @ B-transpose per (block, tile, tile) group —
    guide §4.2), not a per-pair JVM fold."""
    from mongoshake_spark.functions.similarity import with_norm

    # localCheckpoint BEFORE the self-join: both sides read the same
    # derived frame, and without pinning, the whole vectorization
    # pipeline (tokenize, two shuffles, densify) executes TWICE — the
    # same 2x the banded phash self-join paid before round 11 pinned
    # its fingerprints. Measured 26 s -> ~14 s pooled at sf0.1.
    import numpy as np
    import pandas as pd

    vecs = with_norm(
        hash_tfidf_vectors(
            docs.select(id_col, block_col, text_col),
            dim=dim,
            text_col=text_col,
            id_col=id_col,
        ).select(id_col, block_col, "tvec"),
        "tvec",
    ).localCheckpoint(eager=True)
    # Pair scoring is the tiled numpy block scan of
    # similarity.neardup_pairs, keyed (block, tile_lo, tile_hi): one
    # vectorized A @ Bᵀ per group instead of a JVM higher-order fold
    # per candidate pair (the former block-equality self-join evaluated
    # an interpreted zip_with/aggregate fold per same-block candidate —
    # measured ~1.9 s of the query at sf0.1; guide §4.2). Tiling keeps
    # per-task memory at two tiles of one block and spreads a dominant
    # block over T(T+1)/2 tasks; every same-block id pair lands in
    # exactly one (lo, hi) group, so recall is exact with no dedup
    # pass. cos is np.round(dot/(na·nb), 6) with the threshold applied
    # to the ROUNDED value — the oracle's WHERE cos_sim >= t on the
    # rounded column; BLAS vs sequential-fold summation differs ~1e-15
    # relative, far below the round(6) output granularity (the same
    # adjudication every numpy rescorer in functions/similarity
    # carries, hash-pinned at all three SFs).
    n_tiles = 4
    replicated = (
        vecs.select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            F.col("tvec").alias("_vec"),
        )
        # NULL blocks never pair: the pinned oracle's a.lang = b.lang
        # predicate (and the former _blk_a == _blk_b self-join) drop
        # NULLs, while groupBy would collect them into one group and
        # pair them with each other — filter keeps the two shapes
        # equivalent for a corpus with NULL block values
        .filter(F.col("_blk").isNotNull())
        .withColumn(
            "_t", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_tiles)).cast("int")
        )
        .withColumn("_u", F.explode(F.sequence(F.lit(0), F.lit(n_tiles - 1))))
        .select(
            "_blk",
            F.least("_t", "_u").alias("_lo"),
            F.greatest("_t", "_u").alias("_hi"),
            "_t",
            "_id",
            "_vec",
        )
    )

    def block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(key[1]), int(key[2])
        a = pdf[pdf["_t"] == lo]
        b = pdf[pdf["_t"] == hi] if hi != lo else a
        if a.empty or b.empty:
            return pd.DataFrame(
                {"doc_a": [], "doc_b": [], "cos_sim": []}
            ).astype({"doc_a": "int64", "doc_b": "int64", "cos_sim": "float64"})
        a_ids = a["_id"].to_numpy()
        b_ids = b["_id"].to_numpy()
        a_mat = np.array(a["_vec"].tolist(), dtype=np.float64)
        b_mat = np.array(b["_vec"].tolist(), dtype=np.float64)
        a_norm = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
        # half-UP rounding to match F.round / DuckDB round on an exact
        # 6-decimal tie (np.round is half-even: 0.0078125 -> 0.007812
        # there vs 0.007813 in the oracle, which can flip the >=
        # threshold test). Valid because hashed TF-IDF weights are all
        # >= 0, so every cosine here is non-negative.
        raw = (a_mat @ b_mat.T) / np.outer(a_norm, b_norm)
        cos = np.floor(raw * 1e6 + 0.5) / 1e6
        keep = (cos >= threshold) & (a_ids[:, None] != b_ids[None, :])
        ai, bi = np.nonzero(keep)
        lo_ids = np.minimum(a_ids[ai], b_ids[bi])
        hi_ids = np.maximum(a_ids[ai], b_ids[bi])
        out = pd.DataFrame(
            {"doc_a": lo_ids, "doc_b": hi_ids, "cos_sim": cos[ai, bi]}
        )
        # same-tile blocks see each (x, y) twice — canonicalized above,
        # dedup here; cross-tile blocks don't
        return out.drop_duplicates(["doc_a", "doc_b"]) if hi == lo else out

    return replicated.groupBy("_blk", "_lo", "_hi").applyInPandas(
        block, schema="doc_a bigint, doc_b bigint, cos_sim double"
    )
