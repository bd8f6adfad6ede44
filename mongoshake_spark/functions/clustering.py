"""Deterministic distributed k-means over an embedding column.

Corpus organization for training-data pipelines (SemDedup cells, topic
balancing, IVF coarse quantizers) needs a clustering primitive. This is
Lloyd's algorithm made fully deterministic and cross-engine replayable:

- init: the k vectors with the smallest ids, cluster ids 0..k-1 in id
  order (no RNG — portable to any engine);
- assignment: nearest centroid by squared L2 ROUNDED to 6 decimals,
  ties to the smallest cluster id (the rounding pins the argmin across
  engines whose unrounded doubles differ in the last ulp);
- update: element-wise mean, ROUNDED to 6 decimals before the next
  iteration (so both engines iterate from bit-identical centroids); the
  sum behind the mean is exact, so the centroids do not depend on how
  the corpus is partitioned;
- fixed iteration count (the caller picks; no data-dependent stopping).

k-means is product quantization with one subspace, so it runs on the PQ
trainer (``quantization._pq_fit`` with ``m=1``) and the
``functions/vec`` kernels: one seed collect, one map-only ``mapInArrow``
pass per Lloyd update whose output is k·dim exact partial sums per
partition, and one map-only assignment pass (``vec.assign_batches``).
The centroids are a frozen driver-side model under the PQ model
ceiling, shipped in each task's closure; the corpus never shuffles and
is never collected.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from mongoshake_spark.functions import vec
from mongoshake_spark.functions.quantization import _pq_fit


def kmeans_fit(
    vecs: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations; returns ``(assigned, centroids)``
    — the final assignment ``(id_col, cluster, d2)`` and the centroid
    table ``(cluster, centroid)`` it was computed against (the LAST
    update's centroids, as a local relation; clusters emptied by an
    update disappear). A null, wrong-length or null-element embedding
    raises ``ValueError`` naming its id."""
    model = _pq_fit(vecs, 1, k, iters, id_col, vec_col, who="kmeans_fit")
    cb, mask = model.codebook[0], model.mask[0]
    cents = vecs.sparkSession.createDataFrame(
        [(int(c), cb[c].tolist()) for c in np.flatnonzero(mask)],
        "cluster int, centroid array<double>",
    )
    assigned = vecs.select(id_col, vec_col).mapInArrow(
        partial(
            vec.assign_batches, centroids=cb, mask=mask, id_col=id_col,
            vec_col=vec_col,
        ),
        StructType(
            [
                vecs.schema[id_col],
                StructField("cluster", IntegerType()),
                StructField("d2", DoubleType()),
            ]
        ),
    )
    return assigned, cents


def kmeans_assign(
    vecs: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment after ``iters`` Lloyd iterations (an iteration =
    assign to nearest centroid, then recompute means; the returned
    assignment is against the centroids produced by the LAST update).
    Returns ``(id_col, cluster, d2)`` with ``d2`` the rounded squared L2
    to the winning centroid."""
    return kmeans_fit(vecs, k, iters, id_col, vec_col)[0]


def sample_cluster_balanced(
    vecs: DataFrame,
    k: int = 8,
    per_cluster: int = 10,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Cluster-balanced (diversity) sampling — the embedding-space dual
    of ``curation.sample_exact_k``: assign each vector to its k-means
    cluster, then keep exactly ``per_cluster`` rows per cluster by the
    portable hash priority (ties impossible: the id breaks collisions).
    This is the coverage-sampling step training-data pipelines run after
    semantic dedup (SemDeDup / DoReMi-adjacent): a uniform sample lets a
    dominant content cluster flood the mix; the per-cluster quota keeps
    the sample's topical coverage flat regardless of cluster mass.
    Returns ``(id_col, cluster, d2)`` for the survivors.

    Scale shape: assignment is ``kmeans_assign``'s map-only pass (the
    corpus never shuffles to be assigned); the quota reuses
    ``cap_per_domain``'s skew-safe two-phase top-K with the hash as the
    order, so even a cluster holding most of the corpus
    spreads over the scan's partitions — no single task ever sorts a
    whole cluster. Deterministic end to end (no RNG state): re-running
    on a re-partitioned corpus keeps the identical sample, and a smaller
    quota keeps a strict subset of a larger one (ranks only truncate).
    """
    from mongoshake_spark.functions.curation import cap_per_domain
    from mongoshake_spark.functions.packing import knuth_u32

    assigned = kmeans_assign(vecs, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    hashed = assigned.withColumn("_neg_u", -knuth_u32(id_col, seed))
    return cap_per_domain(
        hashed,
        per_cluster,
        domain_col="cluster",
        order_col="_neg_u",
        id_col=id_col,
    ).drop("_neg_u")


def cluster_topics(
    docs: DataFrame,
    vecs: DataFrame,
    k: int = 8,
    iters: int = 2,
    top_terms: int = 3,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
) -> DataFrame:
    """Topic labels for embedding clusters — the corpus-cartography step
    (BERTopic's class-based tf-idf, with the linear idf variant this
    module's keyword extraction uses so both engines agree bitwise):
    k-means-assign the embeddings, pool each cluster's documents into
    one pseudo-document, and rank terms per cluster by
    ``tf_(t,c) · n_clusters / df_t`` where ``df_t`` counts the CLUSTERS
    containing the term — a term scores high when frequent in this
    cluster and absent from the others, which is exactly what makes a
    readable label. Returns ``(cluster, term, rank, score)`` with rank
    1..top_terms per cluster (ties break term-ascending).

    Scale shape: assignment is ``kmeans_assign``'s map-only pass; the
    corpus shuffle carries (cluster, term) pairs with map-side combine —
    one row per DISTINCT (cluster, term), never per token; the cluster df
    is a second aggregate OF that table (k·|vocab| rows max); the rank
    window partitions by cluster, groups bounded by a cluster's
    distinct-term count. The documents themselves never re-shuffle.
    """
    from mongoshake_spark.functions.retrieval import tokenize

    assigned = kmeans_assign(vecs, k=k, iters=iters, id_col=vec_id_col).select(
        F.col(vec_id_col).alias(id_col), "cluster"
    )
    tok = tokenize(docs.select(id_col, text_col), text_col)
    tf = (
        tok.join(assigned, id_col)
        .select("cluster", F.explode("tokens").alias("term"))
        .groupBy("cluster", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    # non-empty cluster count as a broadcast one-row aggregate (the
    # tfidf_top_terms stats pattern) — a driver-side distinct().count()
    # here would be an extra job re-evaluating the assignment chain
    nc = tf.agg(F.count_distinct("cluster").cast("double").alias("_nc"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "cluster",
            "term",
            (F.col("tf").cast("double") * F.col("_nc") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_terms)
        .select("cluster", "term", "rank", F.round("score", 6).alias("score"))
    )
