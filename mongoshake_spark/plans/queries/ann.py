"""Registry domain: ann (split from plans/queries.py; registration order preserved within the file)."""

from __future__ import annotations

from mongoshake_spark.plans.queries._shared import (  # noqa: F401
    F,
    Window,
    _dd_dot,
    _q,
    _stream_tmpdir,
    _write_class_feed,
    dedup,
    load_table,
    similarity,
)
from mongoshake_spark.streaming.drain import drain, stream_session
from mongoshake_spark.streaming.replay import read_oplog_stream



_ANN_ORACLE = f"""WITH v AS (
  SELECT vec_id, embedding, sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_dd_dot('q.embedding', 'c.embedding')} / (q.vnorm * c.vnorm), 6) AS cos_sim
  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""


@_q(
    "ann_cosine_topk",
    _ANN_ORACLE,
    "Brute-force cosine top-5 for query vectors vec_id < 10 (exact baseline).",
)
def ann_topk(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_topk(vecs, list(range(10)), k=5)
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy(
        "query_id", "rank"
    ).select("query_id", "neighbor_id", "rank", "cos_sim")


_LSH_DOT = (
    "list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, 65), "
    "i -> CAST(embedding[i] AS DOUBLE) * "
    "(((1103515245 * (p * 64 + (i - 1)) + 12345) % 1000000007) / 1000000007.0 - 0.5)), "
    "(acc, v) -> acc + v)"
)

_LSH_ORACLE = f"""SELECT vec_id,
       CAST(sum(CASE WHEN {_LSH_DOT} > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
FROM embeddings, (SELECT unnest(range(0, 16)) AS p)
GROUP BY vec_id ORDER BY vec_id"""


@_q(
    "ann_lsh_buckets",
    _LSH_ORACLE,
    "ANN scale path: random-hyperplane LSH bucket assignment (16 planes, "
    "derived pseudo-random components — reproducible across engines).",
)
def ann_lsh_buckets(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    # dim pinned to the fixture schema (the oracle bakes p*64 into the
    # plane formula) — skips the driver-side probe job
    return (
        similarity.lsh_buckets(vecs, dim=64)
        .select("vec_id", "bucket")
        .orderBy("vec_id")
    )


_LSH_TOPK_ORACLE = f"""WITH b AS (
  SELECT vec_id, embedding,
         CAST(sum(CASE WHEN {_LSH_DOT} > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings, (SELECT unnest(range(0, 16)) AS p) GROUP BY vec_id, embedding),
n AS (SELECT vec_id, embedding, bucket,
             sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm FROM b),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_dd_dot('q.embedding', 'c.embedding')} / (q.vnorm * c.vnorm), 6) AS cos_sim
  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id <> q.vec_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 3 ORDER BY query_id, rank"""


@_q(
    "ann_lsh_topk",
    _LSH_TOPK_ORACLE,
    "ANN scale path end-to-end: LSH-bucketed top-3 — candidates restricted "
    "to the query's bucket (the IVF-style probe), exact cosine within.",
)
def ann_lsh_topk(spark, sf_dir):
    from mongoshake_spark.functions.similarity import dot_expr, with_norm

    vecs = load_table(spark, sf_dir, "embeddings")
    bucketed = with_norm(similarity.lsh_buckets(vecs, dim=64), "embedding")
    q = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("vnorm").alias("qnorm"),
        F.col("bucket"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.col("vnorm").alias("cnorm"),
        F.col("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
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
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


_IVF_ORACLE = f"""WITH v AS (
  SELECT vec_id, embedding, sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm
  FROM embeddings),
c AS (SELECT vec_id AS cid, embedding AS cvec, vnorm AS cnorm FROM v WHERE vec_id % 29 = 0),
assign AS (
  SELECT vec_id, embedding, vnorm, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, v.vnorm, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_dd_dot('v.embedding', 'c.cvec')} / (v.vnorm * c.cnorm) DESC, c.cid) AS rn
    FROM v CROSS JOIN c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qvec, vnorm AS qnorm FROM v WHERE vec_id < 10),
probe AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_dd_dot('q.qvec', 'c.cvec')} / (q.qnorm * c.cnorm) DESC, c.cid) AS rn
    FROM q CROSS JOIN c) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_dd_dot('q.qvec', 'a.embedding')} / (q.qnorm * a.vnorm), 6) AS cos_sim
  FROM probe p JOIN assign a ON a.cell = p.cell
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
ORDER BY query_id, rank"""


@_q(
    "ann_ivf_topk",
    _IVF_ORACLE,
    "IVF-flat ANN: deterministic sampled centroids, nearest-centroid cell "
    "assignment (one map-only pass over the frozen sample), n_probe=2 cell "
    "probe per query — candidate scoring touches only probed cells. The "
    "oracle replays the identical index construction, so recall loss vs "
    "brute force is part of the pinned contract.",
)
def ann_ivf_topk(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        vecs, list(range(10)), k=5, n_probe=2, centroid_mod=29
    ).orderBy("query_id", "rank")


# The deterministic k-means chain (k=8, min-id init, one rounded Lloyd
# update, ties to the smallest cluster id) shared by the kmeans_embed /
# sample_cluster_balanced / cluster_topics oracles — one definition so a
# future change to the chain cannot de-synchronize the three. Ends at
# ``a2(vec_id, cluster, d2)``, the final assignment. (ann_ivf_trained
# keeps its own variant: its ``v`` CTE also carries vnorm and it
# composes the probe/score chain off c1r instead of a2.)
_KMEANS_A2 = """WITH v AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
              list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS centroid
       FROM (SELECT vec_id, embedding FROM v ORDER BY vec_id LIMIT 8)),
a1d AS (SELECT v.vec_id, c.cluster,
        round(list_sum(list_transform(range(1, len(v.embedding) + 1),
          i -> (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
             * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]))), 6) AS d2
        FROM v CROSS JOIN c0 c),
a1m AS (SELECT vec_id, min(d2) AS md FROM a1d GROUP BY 1),
a1 AS (SELECT d.vec_id, min(d.cluster) AS cluster
       FROM a1d d JOIN a1m m ON d.vec_id = m.vec_id AND d.d2 = m.md GROUP BY 1),
pos1 AS (SELECT a.cluster, i AS pos, CAST(v.embedding[i] AS DOUBLE) AS val
         FROM a1 a JOIN v ON a.vec_id = v.vec_id,
              unnest(range(1, len(v.embedding) + 1)) AS t(i)),
c1 AS (SELECT cluster, pos, round(avg(val), 6) AS m FROM pos1 GROUP BY 1, 2),
c1r AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM c1 GROUP BY 1),
a2d AS (SELECT v.vec_id, c.cluster,
        round(list_sum(list_transform(range(1, len(v.embedding) + 1),
          i -> (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
             * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]))), 6) AS d2
        FROM v CROSS JOIN c1r c),
a2m AS (SELECT vec_id, min(d2) AS md FROM a2d GROUP BY 1),
a2 AS (SELECT d.vec_id, min(d.cluster) AS cluster, min(m.md) AS d2
       FROM a2d d JOIN a2m m ON d.vec_id = m.vec_id AND d.d2 = m.md GROUP BY 1)"""


@_q(
    "kmeans_embed",
    _KMEANS_A2 + "\nSELECT vec_id, cluster, d2 FROM a2 ORDER BY vec_id",
    "Deterministic k-means (k=8, 2 Lloyd iterations) over the 64-dim "
    "embeddings: min-id init, nearest-centroid assignment with rounded "
    "distances (ties to the smallest cluster id), centroids re-rounded "
    "each update so both engines iterate from bit-identical state. "
    "k-means is one-subspace PQ: the centroids are a frozen driver-side "
    "model, each Lloyd update is one map-only mapInArrow pass emitting "
    "k*dim exact partial sums per partition, and the assignment is one "
    "more map-only pass — the corpus never shuffles "
    "(functions/clustering.kmeans_assign).",
)
def kmeans_embed_q(spark, sf_dir):
    from mongoshake_spark.functions.clustering import kmeans_assign

    vecs = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(vecs, k=8, iters=2).orderBy("vec_id")


@_q(
    "cluster_topics",
    _KMEANS_A2
    + """,
tok AS (SELECT d.doc_id, a.cluster,
               unnest(list_filter(string_split_regex(lower(d.text),
                 '[^a-z0-9]+'), t -> t != '')) AS term
        FROM documents d JOIN a2 a ON a.vec_id = d.doc_id),
tf AS (SELECT cluster, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nc AS (SELECT CAST(count(DISTINCT cluster) AS DOUBLE) AS n FROM tf),
sc AS (SELECT tf.cluster, tf.term,
              CAST(tf.tf AS DOUBLE) * nc.n / dfq.df AS score
       FROM tf JOIN dfq USING (term) CROSS JOIN nc)
SELECT cluster, term, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY cluster
        ORDER BY score DESC, term) AS rank FROM sc)
WHERE rank <= 3 ORDER BY cluster, rank""",
    "Topic labels for embedding clusters — corpus cartography (BERTopic's "
    "class-based tf-idf, linear-idf variant): k-means-assign the "
    "embeddings (the deterministic kmeans_embed chain), pool each "
    "cluster's documents, rank terms by tf_(t,c) * n_clusters / "
    "df_t where df counts CLUSTERS containing the term — high when "
    "frequent here and absent elsewhere, which is what makes a readable "
    "label. Assignment is k-means' map-only pass; the corpus shuffle "
    "carries distinct (cluster, term) pairs "
    "with map-side combine; the cluster-df aggregate and the per-cluster "
    "rank window are both bounded by k x vocab, and the documents "
    "themselves never re-shuffle (functions/clustering.cluster_topics).",
)
def cluster_topics_q(spark, sf_dir):
    from mongoshake_spark.functions.clustering import cluster_topics

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    return cluster_topics(docs, vecs, k=8, iters=2, top_terms=3).orderBy(
        "cluster", "rank"
    )


@_q(
    "sample_cluster_balanced",
    _KMEANS_A2
    + """,
ranked AS (SELECT vec_id, cluster, d2,
  row_number() OVER (PARTITION BY cluster
    ORDER BY (CAST(vec_id * 2654435761 AS BIGINT) % 4294967296), vec_id) AS rk
  FROM a2)
SELECT vec_id, cluster, d2 FROM ranked WHERE rk <= 25 ORDER BY vec_id""",
    "Cluster-balanced (diversity) sampling — the embedding-space dual of "
    "sample_exact_k and the coverage step after semantic dedup "
    "(SemDeDup-adjacent): k-means-assign every vector (k=8, 2 Lloyd "
    "iterations, the deterministic kmeans_embed chain), then keep "
    "exactly 25 per cluster by portable-hash priority, so a dominant "
    "content cluster cannot flood the training mix. Assignment is "
    "k-means' map-only pass (corpus never shuffles to be assigned); the "
    "quota reuses cap_per_domain's skew-safe two-phase top-K, so even a "
    "cluster holding most of the corpus spreads over the scan's "
    "partitions. No RNG state: the sample reproduces under any "
    "partitioning, and a smaller quota is a strict subset of a larger "
    "one (functions/clustering.sample_cluster_balanced).",
)
def sample_cluster_balanced_q(spark, sf_dir):
    from mongoshake_spark.functions.clustering import sample_cluster_balanced

    vecs = load_table(spark, sf_dir, "embeddings")
    return sample_cluster_balanced(vecs, k=8, per_cluster=25, iters=2).orderBy(
        "vec_id"
    )


# Trained-quantizer IVF oracle: the kmeans_embed oracle's centroid chain
# (c0 -> a1 -> c1r — min-id init, one rounded Lloyd update) feeds the
# ann_ivf_topk oracle's probe/score chain, with the sampled-centroid CTE
# replaced by the trained table. Both component chains are independently
# driver-verified; this pins their composition.
_IVF_TRAINED_ORACLE = f"""WITH v AS (
  SELECT vec_id, embedding, sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm
  FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
              list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS centroid
       FROM (SELECT vec_id, embedding FROM v ORDER BY vec_id LIMIT 8)),
a1d AS (SELECT v.vec_id, c.cluster,
        round(list_sum(list_transform(range(1, len(v.embedding) + 1),
          i -> (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
             * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]))), 6) AS d2
        FROM v CROSS JOIN c0 c),
a1m AS (SELECT vec_id, min(d2) AS md FROM a1d GROUP BY 1),
a1 AS (SELECT d.vec_id, min(d.cluster) AS cluster
       FROM a1d d JOIN a1m m ON d.vec_id = m.vec_id AND d.d2 = m.md GROUP BY 1),
pos1 AS (SELECT a.cluster, i AS pos, CAST(v.embedding[i] AS DOUBLE) AS val
         FROM a1 a JOIN v ON a.vec_id = v.vec_id,
              unnest(range(1, len(v.embedding) + 1)) AS t(i)),
c1 AS (SELECT cluster, pos, round(avg(val), 6) AS m FROM pos1 GROUP BY 1, 2),
c1r AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM c1 GROUP BY 1),
tc AS (SELECT cluster AS cid, centroid AS cvec,
              sqrt({_dd_dot('centroid', 'centroid')}) AS cnorm FROM c1r),
assign AS (
  SELECT vec_id, embedding, vnorm, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, v.vnorm, t.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_dd_dot('v.embedding', 't.cvec')} / (v.vnorm * t.cnorm) DESC, t.cid) AS rn
    FROM v CROSS JOIN tc t) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qvec, vnorm AS qnorm FROM v WHERE vec_id < 10),
probe AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, t.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_dd_dot('q.qvec', 't.cvec')} / (q.qnorm * t.cnorm) DESC, t.cid) AS rn
    FROM q CROSS JOIN tc t) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_dd_dot('q.qvec', 'a.embedding')} / (q.qnorm * a.vnorm), 6) AS cos_sim
  FROM probe p JOIN assign a ON a.cell = p.cell
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
ORDER BY query_id, rank"""


@_q(
    "ann_ivf_trained",
    _IVF_TRAINED_ORACLE,
    "IVF-flat ANN with a TRAINED coarse quantizer: the deterministic "
    "k-means (k=8, 2 Lloyd iterations, rounded centroids) fits the cell "
    "centroids, then the standard IVF probe (n_probe=2) scores only the "
    "probed cells. The centroids are a frozen k-row driver-side table "
    "on both the fit and probe sides; the corpus is touched by one "
    "map-only pass per Lloyd update, one map-only cell assignment and "
    "one cell-restricted scoring pass — no all-pairs stage anywhere "
    "(functions/clustering.kmeans_fit + "
    "functions/similarity.ivf_topk(centroids=...)).",
)
def ann_ivf_trained_q(spark, sf_dir):
    from mongoshake_spark.functions.clustering import kmeans_fit

    vecs = load_table(spark, sf_dir, "embeddings")
    _, cents = kmeans_fit(vecs, k=8, iters=2)
    return similarity.ivf_topk(
        vecs, list(range(10)), k=5, n_probe=2, centroids=cents
    ).orderBy("query_id", "rank")


def _pq_d2(sv: str, cent: str) -> str:
    """DuckDB squared-L2 between a subvector and a codeword — same
    left-to-right fold and round(…, 6) as vec.nearest_code."""
    return (
        f"round(list_sum(list_transform(range(1, len({sv}) + 1), "
        f"i -> (CAST({sv}[i] AS DOUBLE) - {cent}[i]) "
        f"* (CAST({sv}[i] AS DOUBLE) - {cent}[i]))), 6)"
    )


_PQ_CTES = f"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
sub AS (SELECT vec_id, CAST(t.s AS INT) AS sub,
               embedding[CAST(t.s*16+1 AS BIGINT):CAST((t.s+1)*16 AS BIGINT)] AS sv
        FROM v, unnest(range(0, 4)) AS t(s)),
c0 AS (SELECT sub, CAST(rn - 1 AS INT) AS cluster,
              list_transform(sv, x -> round(CAST(x AS DOUBLE), 6)) AS centroid
       FROM (SELECT sub, sv,
                    row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
             FROM sub) WHERE rn <= 8),
a1 AS (SELECT vec_id, sub, cluster FROM (
         SELECT s.vec_id, s.sub, c.cluster,
                row_number() OVER (PARTITION BY s.vec_id, s.sub
                  ORDER BY {_pq_d2('s.sv', 'c.centroid')}, c.cluster) AS rn
         FROM sub s JOIN c0 c ON c.sub = s.sub) WHERE rn = 1),
pos1 AS (SELECT a.sub, a.cluster, t.i AS pos, CAST(s.sv[t.i] AS DOUBLE) AS val
         FROM a1 a JOIN sub s ON s.vec_id = a.vec_id AND s.sub = a.sub,
              unnest(range(1, len(s.sv) + 1)) AS t(i)),
c1 AS (SELECT sub, cluster, pos, round(avg(val), 6) AS mval
       FROM pos1 GROUP BY 1, 2, 3),
c1r AS (SELECT sub, cluster, list(mval ORDER BY pos) AS centroid
        FROM c1 GROUP BY 1, 2),
codes AS (SELECT vec_id, sub, cluster FROM (
            SELECT s.vec_id, s.sub, c.cluster,
                   row_number() OVER (PARTITION BY s.vec_id, s.sub
                     ORDER BY {_pq_d2('s.sv', 'c.centroid')}, c.cluster) AS rn
            FROM sub s JOIN c1r c ON c.sub = s.sub) WHERE rn = 1),
cn AS (SELECT sub, cluster, {_dd_dot('centroid', 'centroid')} AS cn2 FROM c1r),
qn AS (SELECT vec_id AS query_id,
              sqrt({_dd_dot('embedding', 'embedding')}) AS qnorm
       FROM v WHERE vec_id < 10),
adc AS (SELECT s.vec_id AS query_id, s.sub, c.cluster,
               {_dd_dot('s.sv', 'c.centroid')} AS dsub
        FROM sub s JOIN c1r c ON c.sub = s.sub WHERE s.vec_id < 10),
scored AS (
  SELECT a.query_id, co.vec_id AS neighbor_id,
         list_sum(list(a.dsub ORDER BY a.sub)) AS adc_dot,
         list_sum(list(cn.cn2 ORDER BY a.sub)) AS cn2_sum
  FROM codes co
  JOIN adc a ON a.sub = co.sub AND a.cluster = co.cluster
  JOIN cn ON cn.sub = co.sub AND cn.cluster = co.cluster
  WHERE co.vec_id <> a.query_id
  GROUP BY 1, 2),
ranked AS (SELECT s.query_id, s.neighbor_id,
                  round(s.adc_dot / (qn.qnorm * sqrt(s.cn2_sum)), 6) AS cos_sim
           FROM scored s JOIN qn ON qn.query_id = s.query_id)"""

_PQ_ORACLE = f"""{_PQ_CTES}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM ranked) WHERE rank <= 5
ORDER BY query_id, rank"""

_PQ_RERANK_ORACLE = f"""{_PQ_CTES},
short AS (SELECT query_id, neighbor_id FROM (
  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS adc_rank
  FROM ranked) WHERE adc_rank <= 25),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         round({_dd_dot('q.embedding', 'n.embedding')}
               / (sqrt({_dd_dot('q.embedding', 'q.embedding')})
                  * sqrt({_dd_dot('n.embedding', 'n.embedding')})), 6) AS cos_sim
  FROM short s
  JOIN v q ON q.vec_id = s.query_id
  JOIN v n ON n.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM exact) WHERE rank <= 5
ORDER BY query_id, rank"""


@_q(
    "ann_pq_adc",
    _PQ_ORACLE,
    "Product-quantization ANN (Jégou et al. 2011): per-subspace codebooks "
    "(m=4 x 16 dims, k=8, the deterministic 2-iteration k-means: one "
    "seed collect, one map-only Lloyd pass with exact per-partition "
    "sums), corpus encoded to 4-byte codes (~128x compression of the "
    "embedding store — the actual 100TB cost), queries scored by "
    "asymmetric distance computation against a driver-built Q·m·k lookup "
    "table in ONE mapInArrow pass that keeps a per-partition top-k per "
    "query; the numpy kernels (functions/vec) replay the SQL folds "
    "bit-exactly, so the oracle reproduces identical doubles; 7 Spark "
    "jobs per call (functions/quantization.pq_train/pq_encode/pq_topk).",
)
def ann_pq_adc_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.pq_topk(
        vecs, list(range(10)), k=5, m=4, k_code=8, iters=2
    ).orderBy("query_id", "rank")


@_q(
    "ann_pq_rerank",
    _PQ_RERANK_ORACLE,
    "Two-stage PQ retrieval — the production finisher on ann_pq_adc "
    "(Jégou et al. 2011 §V): the ADC pass shortlists top-C=25 candidates "
    "per query (the mapInArrow scoring pass keeps a per-partition "
    "top-25 per query), then ONLY those Q·C rows are re-scored with "
    "exact cosine against their stored vectors (the shortlist "
    "broadcasts onto the corpus scan — candidate-sized I/O, never a "
    "corpus shuffle; the query side is a local relation from the one "
    "query collect) and the final top-k ranks by the exact "
    "score; recall@10 at C=10k gated >= 0.9 in scripts/"
    "ann_recall_proof.py (functions/quantization.pq_topk(rerank=25)).",
)
def ann_pq_rerank_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.pq_topk(
        vecs, list(range(10)), k=5, m=4, k_code=8, iters=2, rerank=25
    ).orderBy("query_id", "rank")


_IVFPQ_BASE = f"""WITH v AS (
  SELECT vec_id, embedding, sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm
  FROM embeddings),
c AS (SELECT vec_id AS cid, embedding AS cvec, vnorm AS cnorm FROM v WHERE vec_id % 29 = 0),
assign AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_dd_dot('v.embedding', 'c.cvec')} / (v.vnorm * c.cnorm) DESC, c.cid) AS rn
    FROM v CROSS JOIN c) WHERE rn = 1),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) AS res
  FROM assign a JOIN c ON c.cid = a.cell),
subr AS (SELECT vec_id, cell, CAST(t.s AS INT) AS sub,
                res[CAST(t.s*16+1 AS BIGINT):CAST((t.s+1)*16 AS BIGINT)] AS sv
         FROM res, unnest(range(0, 4)) AS t(s)),
r0 AS (SELECT sub, CAST(rn - 1 AS INT) AS cluster,
              list_transform(sv, x -> round(CAST(x AS DOUBLE), 6)) AS centroid
       FROM (SELECT sub, sv,
                    row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
             FROM subr) WHERE rn <= 8),
a1 AS (SELECT vec_id, sub, cluster FROM (
         SELECT s.vec_id, s.sub, c.cluster,
                row_number() OVER (PARTITION BY s.vec_id, s.sub
                  ORDER BY {_pq_d2('s.sv', 'c.centroid')}, c.cluster) AS rn
         FROM subr s JOIN r0 c ON c.sub = s.sub) WHERE rn = 1),
pos1 AS (SELECT a.sub, a.cluster, t.i AS pos, CAST(s.sv[t.i] AS DOUBLE) AS val
         FROM a1 a JOIN subr s ON s.vec_id = a.vec_id AND s.sub = a.sub,
              unnest(range(1, len(s.sv) + 1)) AS t(i)),
c1 AS (SELECT sub, cluster, pos, round(avg(val), 6) AS mval
       FROM pos1 GROUP BY 1, 2, 3),
c1r AS (SELECT sub, cluster, list(mval ORDER BY pos) AS centroid
        FROM c1 GROUP BY 1, 2),
codes AS (SELECT vec_id, cell, sub, cluster FROM (
            SELECT s.vec_id, s.cell, s.sub, c.cluster,
                   row_number() OVER (PARTITION BY s.vec_id, s.sub
                     ORDER BY {_pq_d2('s.sv', 'c.centroid')}, c.cluster) AS rn
            FROM subr s JOIN c1r c ON c.sub = s.sub) WHERE rn = 1),
rn2 AS (SELECT sub, cluster, {_dd_dot('centroid', 'centroid')} AS rn2 FROM c1r),
q AS (SELECT vec_id AS query_id, embedding AS qvec, vnorm AS qnorm FROM v WHERE vec_id < 10),
probe AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_dd_dot('q.qvec', 'c.cvec')} / (q.qnorm * c.cnorm) DESC, c.cid) AS rn
    FROM q CROSS JOIN c) WHERE rn <= 2),
qc AS (
  SELECT p.query_id, p.cell, q.qnorm, c2.cnorm,
         {_dd_dot('q.qvec', 'c2.cvec')} AS q_dot_c,
         list_transform(range(1, len(q.qvec) + 1),
           i -> CAST(q.qvec[i] AS DOUBLE) - CAST(c2.cvec[i] AS DOUBLE)) AS qr
  FROM probe p JOIN c c2 ON c2.cid = p.cell
  JOIN q ON q.query_id = p.query_id),
qsub AS (SELECT query_id, cell, CAST(t.s AS INT) AS sub,
                qr[CAST(t.s*16+1 AS BIGINT):CAST((t.s+1)*16 AS BIGINT)] AS sv
         FROM qc, unnest(range(0, 4)) AS t(s)),
adc AS (SELECT s.query_id, s.cell, s.sub, c.cluster,
               {_dd_dot('s.sv', 'c.centroid')} AS dsub
        FROM qsub s JOIN c1r c ON c.sub = s.sub),
csub AS (SELECT cid AS cell, CAST(t.s AS INT) AS sub,
                cvec[CAST(t.s*16+1 AS BIGINT):CAST((t.s+1)*16 AS BIGINT)] AS sv
         FROM c, unnest(range(0, 4)) AS t(s)),
cdot AS (SELECT s.cell, s.sub, c.cluster,
                {_dd_dot('s.sv', 'c.centroid')} AS cdsub
         FROM csub s JOIN c1r c ON c.sub = s.sub),
scored AS (
  SELECT a.query_id, co.vec_id AS neighbor_id, co.cell,
         list_sum(list(a.dsub ORDER BY a.sub)) AS adc_sum,
         list_sum(list(cd.cdsub ORDER BY a.sub)) AS cd_sum,
         list_sum(list(r.rn2 ORDER BY a.sub)) AS rn2_sum
  FROM codes co
  JOIN adc a ON a.cell = co.cell AND a.sub = co.sub AND a.cluster = co.cluster
  JOIN cdot cd ON cd.cell = co.cell AND cd.sub = co.sub AND cd.cluster = co.cluster
  JOIN rn2 r ON r.sub = co.sub AND r.cluster = co.cluster
  WHERE co.vec_id <> a.query_id
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT s.query_id, s.neighbor_id,
         round((qc.q_dot_c + s.adc_sum + s.cd_sum)
               / (qc.qnorm * sqrt(qc.cnorm * qc.cnorm + 2 * s.cd_sum + s.rn2_sum)), 6) AS cos_sim
  FROM scored s JOIN qc ON qc.query_id = s.query_id AND qc.cell = s.cell)"""

_IVFPQ_ORACLE = _IVFPQ_BASE + """
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM ranked) WHERE rank <= 5
ORDER BY query_id, rank"""

_IVFPQ_RERANK_ORACLE = _IVFPQ_BASE + f""",
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS adc_rank
    FROM ranked) WHERE adc_rank <= 25),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         round({_dd_dot('q.qvec', 'n.embedding')} / (q.qnorm * n.vnorm), 6)
           AS cos_sim
  FROM shortlist s
  JOIN q ON q.query_id = s.query_id
  JOIN v n ON n.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM exact) WHERE rank <= 5
ORDER BY query_id, rank"""


@_q(
    "ann_ivfpq",
    _IVFPQ_ORACLE,
    "IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the production ANN "
    "composition: the deterministic coarse quantizer partitions the "
    "corpus into cells, PQ codebooks train on the RESIDUALS "
    "v - centroid(cell) (tighter distribution, finer quantization at "
    "the same code budget), and each query scans only its n_probe=2 "
    "cells' m-byte codes with a per-(query,cell) residual ADC table; "
    "approximate cosine reconstructs from decomposable terms "
    "(dot(q,c) + residual ADC; cell+cross+codeword norms), every "
    "cross-engine sum folding in fixed subspace order "
    "(functions/quantization.ivfpq_topk). The two compression levers — "
    "cell restriction x code compression — multiply.",
)
def ann_ivfpq_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.ivfpq_topk(
        vecs, list(range(10)), k=5, n_probe=2, m=4, k_code=8, iters=2
    ).orderBy("query_id", "rank")


@_q(
    "ann_ivfpq_rerank",
    _IVFPQ_RERANK_ORACLE,
    "IVF-PQ with the exact re-rank finisher — the FULL production ANN "
    "composition (cell restriction x code compression x exact finish): "
    "the IVFADC pass shortlists top-C=25 per query from probed-cell "
    "m-byte codes, then ONLY those Q*C rows are re-scored with exact "
    "cosine against their stored vectors (shortlist broadcasts onto the "
    "corpus scan — candidate-sized I/O) and the final top-k ranks by "
    "the exact score (functions/quantization.ivfpq_topk(rerank=25)).",
)
def ann_ivfpq_rerank_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.ivfpq_topk(
        vecs, list(range(10)), k=5, n_probe=2, m=4, k_code=8, iters=2, rerank=25
    ).orderBy("query_id", "rank")


@_q(
    "stream_ann_ingest",
    _IVFPQ_ORACLE,
    "Streaming ANN index maintenance — the vector-ingest dual of "
    "stream_neardup: the IVF-PQ model (coarse centroids + residual "
    "codebooks) trains ONCE over the corpus (FAISS train-vs-add), then "
    "the same corpus replays as a 3-micro-batch stream whose foreachBatch "
    "encodes each batch against the FROZEN broadcast model (map-only — "
    "the batch never shuffles) and appends (id, cell, codes) to the "
    "persisted code table; queries then probe the LIVE store through the "
    "shared IVFADC scoring stage. Because the model is frozen, a vector "
    "encodes identically in any batch — so the drained store's top-k "
    "hash-equals the batch ivfpq_topk, which is exactly what this oracle "
    "pins. Restart-idempotent: replayed batches re-append, the probe "
    "dedups by id (streaming/ann_ingest).",
    stream=True,
)
def stream_ann_ingest_q(spark, sf_dir):
    import shutil

    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
        streaming_ann_ingest,
    )

    # 8 partitions: model-sized aggregates (k centroids, m*k codewords)
    # make 32 near-empty shuffle tasks per Lloyd/score stage pure
    # scheduling overhead; the map-only encode keeps full scan width
    ss = stream_session(spark, 8)
    vecs = load_table(ss, sf_dir, "embeddings")
    tmp = _stream_tmpdir("annidx_")
    feed_dir, ckpt_dir, index_dir = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/index"
    try:
        ann_index_bootstrap(vecs, index_dir, m=4, k_code=8, iters=2)
        _write_class_feed(vecs, F.col("vec_id") % 3, 3, feed_dir, tmp)
        drain(
            streaming_ann_ingest(
                read_oplog_stream(ss, feed_dir), index_dir, ckpt_dir
            ),
            "stream_ann_ingest",
        )
        out = ann_index_topk(
            ss,
            index_dir,
            vecs.filter(F.col("vec_id") < 10),
            k=5,
            n_probe=2,
        )
        return out.orderBy("query_id", "rank").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_q(
    "stream_ann_compaction",
    _IVFPQ_ORACLE,
    "Persisted-index LIFECYCLE, driver-verified end to end: bootstrap "
    "the frozen IVF-PQ model, drain the corpus through the ingest "
    "stream, then re-append the full code table once — byte-identical "
    "rows, exactly what a crash-replayed feed appends (the checkpoint-"
    "replay path itself is pytested; a second live drain here only "
    "re-bought stream startup, +30 s measured) — compact the store "
    "(streaming/index_lifecycle.compact_ann_store: codes deduped by id "
    "into a new generation behind the atomic CURRENT pointer, "
    "superseded payload pruned), and probe the compacted generation. A "
    "hash match against the SAME batch-IVFPQ oracle that pins "
    "stream_ann_ingest proves the compaction + generation cutover "
    "preserve probe results exactly while the store halves; the "
    "compacted row count is asserted in-plan (a silent no-op compaction "
    "would still hash-match). Maintenance is one distributed "
    "dedup-by-id pass; the pointer flip is a metadata op "
    "(streaming/index_lifecycle, streaming/ann_ingest).",
    stream=True,
)
def stream_ann_compaction_q(spark, sf_dir):
    import os
    import shutil

    from mongoshake_spark.streaming.ann_ingest import (
        ann_index_bootstrap,
        ann_index_topk,
        streaming_ann_ingest,
    )
    from mongoshake_spark.streaming.index_lifecycle import (
        compact_ann_store,
        read_current,
    )

    # 8 partitions: the same model-sized sizing as stream_ann_ingest
    ss = stream_session(spark, 8)
    vecs = load_table(ss, sf_dir, "embeddings")
    tmp = _stream_tmpdir("annlc_")
    feed_dir, index_dir = f"{tmp}/feed", f"{tmp}/index"
    try:
        ann_index_bootstrap(vecs, index_dir, m=4, k_code=8, iters=2)
        _write_class_feed(vecs, F.lit(0), 1, feed_dir, tmp)
        drain(
            streaming_ann_ingest(
                read_oplog_stream(ss, feed_dir), index_dir, f"{tmp}/ck1"
            ),
            "stream_ann_compaction",
        )
        # crash-replay worst case: every code row appended a second time
        # (byte-identical rows — what a replayed feed writes; the actual
        # via-checkpoint replay is pinned in tests/test_index_lifecycle)
        codes_path = os.path.join(index_dir, "codes")
        ss.read.parquet(codes_path).localCheckpoint(eager=True).write.mode(
            "append"
        ).parquet(codes_path)
        stats = compact_ann_store(ss, index_dir)
        if stats["rows_after"] * 2 != stats["rows_before"]:
            raise RuntimeError(
                f"compaction did not halve the replay-doubled store: {stats}"
            )
        if read_current(index_dir) != stats["generation"]:
            raise RuntimeError("generation pointer did not cut over")
        out = ann_index_topk(
            ss,
            index_dir,
            vecs.filter(F.col("vec_id") < 10),
            k=5,
            n_probe=2,
        )
        return out.orderBy("query_id", "rank").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQ8_ORACLE = f"""WITH v AS (
  SELECT vec_id, embedding, sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm
  FROM embeddings),
b AS (SELECT t.i AS pos,
             min(CAST(embedding[t.i] AS DOUBLE)) AS mn,
             max(CAST(embedding[t.i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY 1),
rec AS (
  SELECT e.vec_id,
         list(CASE WHEN b.mx > b.mn
                   THEN b.mn + CAST(CAST(round(
                          (CAST(e.embedding[b.pos] AS DOUBLE) - b.mn)
                          / (b.mx - b.mn) * 255, 0) AS INT) AS DOUBLE)
                        / 255.0 * (b.mx - b.mn)
                   ELSE b.mn END ORDER BY b.pos) AS nvec
  FROM embeddings e, b GROUP BY 1),
nrm AS (SELECT vec_id AS neighbor_id, nvec,
               sqrt({_dd_dot('nvec', 'nvec')}) AS nnorm
        FROM rec),
q AS (SELECT vec_id AS query_id, embedding AS qvec, vnorm AS qnorm
      FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, n.neighbor_id,
         round({_dd_dot('q.qvec', 'n.nvec')} / (q.qnorm * n.nnorm), 6) AS cos_sim
  FROM q CROSS JOIN nrm n WHERE n.neighbor_id <> q.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
ORDER BY query_id, rank"""


@_q(
    "ann_sq8",
    _SQ8_ORACLE,
    "SQ8 scalar quantization (the FAISS SQ8 shape): per-DIMENSION "
    "min/max fit (one map-side-combined aggregate), each dim linearly "
    "encoded to one byte (8x store compression of float64, no codebook "
    "search — encode is a pure in-row map with the dim-sized bounds as "
    "array literals), corpus scored asymmetrically through its int8 "
    "reconstruction; near-exact recall at 8x, bracketing the "
    "store/recall frontier opposite PQ's 32-128x "
    "(functions/quantization.sq8_train/encode/reconstruct/topk).",
)
def ann_sq8_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.sq8_topk(vecs, list(range(10)), k=5).orderBy(
        "query_id", "rank"
    )


_COV_ORACLE = """WITH flat AS (
  SELECT vec_id, CAST(t.i AS INT) AS i,
         CAST(embedding[CAST(t.i + 1 AS BIGINT)] AS DOUBLE) AS v
  FROM embeddings, unnest(range(0, 64)) AS t(i)),
stats AS (SELECT i, sum(v) AS s, count(*) AS n FROM flat GROUP BY i),
prod AS (
  SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS sxy, count(*) AS n
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i)
SELECT p.i, p.j,
       round(p.sxy / p.n - (sa.s / sa.n) * (sb.s / sb.n), 6) AS cov
FROM prod p JOIN stats sa ON sa.i = p.i JOIN stats sb ON sb.i = p.j
ORDER BY p.i, p.j"""


@_q(
    "embedding_covariance",
    _COV_ORACLE,
    "Distributed second moments of the embedding corpus (population "
    "covariance, upper triangle): per-partition numpy partials over ONE "
    "mapInPandas pass — each partition emits a single (n, sum, outer-sum) "
    "row, the driver combines #partitions rows — the treeAggregate shape "
    "MLlib's RowMatrix.computeCovariance uses; no shuffle and nothing "
    "per-row leaves the executors. The oracle explodes to (row, dim) "
    "pairs and self-joins, which is exactly the N*dim^2-row plan the "
    "Spark side exists to avoid at scale "
    "(functions/projection.embedding_moments/covariance_df).",
)
def embedding_covariance_q(spark, sf_dir):
    from mongoshake_spark.functions import projection

    vecs = load_table(spark, sf_dir, "embeddings")
    m = projection.embedding_moments(vecs)
    return projection.covariance_df(spark, m).orderBy("i", "j")


@_q(
    "ann_pca_rerank",
    _ANN_ORACLE,
    "Two-stage ANN with a PCA first stage: fit principal components from "
    "the distributed moments (driver eigh on the dim x dim covariance — "
    "corpus-size-independent), project corpus and queries map-only "
    "through JVM fold expressions (components as double-literal arrays, "
    "no UDF), rank ALL pairs by projected cosine (d/dim of the exact "
    "FLOPs and bandwidth on the corpus-scan stage), shortlist per query, "
    "exact-rerank only the broadcast shortlist at full precision. Oracle "
    "= exact brute-force top-5: the hash match IS the recall-1.0 gate "
    "for the shortlist. d=48, C=200 here because the synthetic corpus is "
    "near-ISOTROPIC (top-16 eigenvalues carry 38pct of variance — the "
    "PCA worst case, measured in tests/test_projection.py); real encoder "
    "embeddings are strongly anisotropic and reduce far harder "
    "(functions/projection.pca_fit/pca_project/pca_topk).",
)
def ann_pca_rerank_q(spark, sf_dir):
    from mongoshake_spark.functions import projection

    vecs = load_table(spark, sf_dir, "embeddings")
    return projection.pca_topk(
        vecs, list(range(10)), k=5, d=48, shortlist=200
    ).orderBy("query_id", "rank")


_EQUALITY_ORACLE = f"""SELECT vec_id,
       round(vnorm, 6) AS vnorm,
       round(vnorm - 1.0, 6) + 0.0 AS norm_dev,
       has_nan,
       round(frac_zero, 6) AS frac_zero,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS comp_min,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS comp_max,
       (abs(vnorm - 1.0) <= 0.001 AND NOT has_nan AND frac_zero < 0.5) AS keep
FROM (
  SELECT vec_id, embedding,
         sqrt({_dd_dot('embedding', 'embedding')}) AS vnorm,
         len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0 AS has_nan,
         len(list_filter(embedding, x -> x = 0)) / len(embedding) AS frac_zero
  FROM embeddings)
ORDER BY vec_id"""


@_q(
    "embedding_quality",
    _EQUALITY_ORACLE,
    "Embedding quality gate (the vector-side twin of text_quality): "
    "per-vector norm and its deviation from the encoder's unit-norm "
    "contract, NaN detection, zero-fraction, and component range, with a "
    "keep flag (|norm-1| <= 1e-3, NaN-free, < half zeros) — catches "
    "failed encodes, padding rows, and truncated vectors before they "
    "poison ANN and dedup. Deliberately PER-ROW statistics only: every "
    "column is a JVM higher-order fold that is bit-identical to the "
    "oracle's list_reduce (a corpus-z-score variant amplifies "
    "summation-order noise when norms are all ~1, i.e. it is not "
    "cross-engine stable — the contract check is, and is also the "
    "operationally meaningful gate). Map-only scan, no shuffle, no UDF.",
)
def embedding_quality_q(spark, sf_dir):
    from mongoshake_spark.functions.similarity import with_norm

    vecs = load_table(spark, sf_dir, "embeddings")
    unit = (
        with_norm(vecs, drop_zero=False)
        .withColumn(
            "has_nan",
            F.expr("exists(embedding, x -> isnan(CAST(x AS DOUBLE)))"),
        )
        .withColumn(
            "frac_zero",
            F.size(F.expr("filter(embedding, x -> x = 0)"))
            / F.size("embedding"),
        )
    )
    return unit.select(
        "vec_id",
        F.round("vnorm", 6).alias("vnorm"),
        # + 0.0 collapses IEEE -0.0 (a deviation rounded up from below
        # the contract norm) to +0.0 on both engines — the value hash
        # distinguishes the two zero bit patterns
        (F.round(F.col("vnorm") - F.lit(1.0), 6) + F.lit(0.0)).alias(
            "norm_dev"
        ),
        "has_nan",
        F.round("frac_zero", 6).alias("frac_zero"),
        F.round(F.expr("CAST(array_min(embedding) AS DOUBLE)"), 6).alias(
            "comp_min"
        ),
        F.round(F.expr("CAST(array_max(embedding) AS DOUBLE)"), 6).alias(
            "comp_max"
        ),
        (
            (F.abs(F.col("vnorm") - F.lit(1.0)) <= 0.001)
            & ~F.col("has_nan")
            & (F.col("frac_zero") < 0.5)
        ).alias("keep"),
    ).orderBy("vec_id")


# ---- OPQ (variance-balanced dimension permutation, the SQL-replayable
# half of Ge et al. 2013's OPQ-P; the eigen-rotation production path is
# functions/quantization.opq_fit, contract-pinned in tests) ------------

_PQ_HEAD = "WITH v AS (SELECT vec_id, embedding FROM embeddings),"

_OPQ_PERM_HEAD = """WITH var AS (
  SELECT CAST(t.i AS INT) AS dim,
         round(sum(CAST(embedding[t.i + 1] AS DOUBLE)
                   * CAST(embedding[t.i + 1] AS DOUBLE)) / count(*)
               - pow(sum(CAST(embedding[t.i + 1] AS DOUBLE)) / count(*), 2),
               6) AS v
  FROM embeddings, unnest(range(0, 64)) AS t(i) GROUP BY 1),
rk AS (SELECT dim, row_number() OVER (ORDER BY v DESC, dim) - 1 AS r FROM var),
alloc AS (SELECT dim, r,
                 CASE WHEN (r // 4) % 2 = 0 THEN r % 4
                      ELSE 3 - (r % 4) END AS bucket
          FROM rk),
perm AS (SELECT dim AS old_dim,
                bucket * 16
                + row_number() OVER (PARTITION BY bucket ORDER BY r) - 1
                  AS new_pos
         FROM alloc),
pv AS (SELECT e.vec_id,
              list(e.embedding[p.old_dim + 1] ORDER BY p.new_pos) AS embedding
       FROM embeddings e, perm p GROUP BY e.vec_id),
v AS (SELECT vec_id, embedding FROM pv),"""

assert _PQ_ORACLE.startswith(_PQ_HEAD)
_OPQ_PERM_ORACLE = _PQ_ORACLE.replace(_PQ_HEAD, _OPQ_PERM_HEAD, 1)


@_q(
    "ann_opq_perm",
    _OPQ_PERM_ORACLE,
    "Optimized product quantization, parametric allocation (Ge et al. "
    "CVPR 2013 OPQ-P): per-dim variances from the one-pass distributed "
    "moments are rounded (both engines rank identical values) and dealt "
    "to the m subspaces in a snake draft, balancing per-subspace "
    "variance so no single codebook absorbs most of the distortion; the "
    "corpus is permuted map-only (array indexing, zero arithmetic) and "
    "the UNCHANGED PQ train/encode/ADC machinery runs on top. The "
    "oracle replays every stage — variance ranking, snake allocation, "
    "permutation, codebooks, codes, ADC — as window SQL, so the hash "
    "match pins the whole fit, not just the scores. The eigen-ROTATION "
    "variant (opq_fit/opq_rotate/opq_topk) is the production path where "
    "anisotropy is real; its fit (eigh) is not SQL-replayable, so its "
    "contracts are pytest-pinned instead "
    "(functions/quantization.opq_perm_fit/opq_permute/opq_perm_topk).",
)
def ann_opq_perm_q(spark, sf_dir):
    from mongoshake_spark.functions import quantization as pq

    vecs = load_table(spark, sf_dir, "embeddings")
    return pq.opq_perm_topk(
        vecs, list(range(10)), k=5, m=4, k_code=8, iters=2
    ).orderBy("query_id", "rank")


@_q(
    "embedding_covariance_incremental",
    _COV_ORACLE,
    "Incremental-maintenance path for the moments plane: the corpus is "
    "split into two increments (vec_id parity — standing in for "
    "history + a new ingest batch), per-increment moments are computed "
    "independently and combined with the exact parallel-variance merge "
    "(functions/projection.merge_moments), then the merged covariance "
    "must hash-match the SAME full-pass oracle as embedding_covariance "
    "— a PCA/OPQ refit never re-scans history (pair with "
    "index_lifecycle generations to persist the running moments).",
)
def embedding_covariance_incremental_q(spark, sf_dir):
    from mongoshake_spark.functions import projection

    vecs = load_table(spark, sf_dir, "embeddings")
    a = projection.embedding_moments(vecs.filter(F.col("vec_id") % 2 == 0))
    b = projection.embedding_moments(vecs.filter(F.col("vec_id") % 2 == 1))
    merged = projection.merge_moments(a, b)
    return projection.covariance_df(spark, merged).orderBy("i", "j")
