"""Deduplication operators for the training-data pipeline.

Families over ``documents`` (embedding near-dup: functions/similarity.py);
each near-dup family generates its pairs with ONE self-join:

- exact           : hash-groupBy (md5 of the raw or normalized text)
- MinHash         : shingle -> 16 minhashes -> 4 bands ->
                    :func:`minhash_band_pairs`, shared by minhash_pairs,
                    incremental_minhash_pairs, minhash_estimate_pairs
                    (Jaccard estimate per candidate) and streaming/neardup
- SimHash         : fingerprint -> 4 bands of bits/4 -> one band join for
                    the 32-bit oracle form (simhash_pairs, 4x8-bit) and
                    the 64-bit production form (simhash_pairs64, 4x16-bit,
                    optional hot-bucket cap), Hamming <= 3
- n-gram          : 3-shingle posting self-join (:func:`_shingle_overlap`)
                    thresholded as Jaccard or as asymmetric containment
- winnowing       : MOSS fingerprints + postings self-join (winnow_pairs)
- spans / lines   : duplicate_spans, dedup_lines

Scale notes (the reason these shapes were chosen):
- Everything is hash -> shuffle-on-small-key -> aggregate; the only wide
  rows are (doc_id, shingle_hash) pairs, never the documents themselves.
- The self-joins shuffle on high-cardinality bucket keys, so they spread
  over any cluster. A hot bucket (boilerplate text) is NOT fixed by AQE:
  its skew split divides the join input, but the bucket's quadratic pair
  work stays in a few tasks — on sf1, dedup_containment takes 30.07 s at
  32 cores and 31.05 s at 8 (BENCH_SCALING). ``max_df`` and SimHash's
  ``bucket_cap`` bound that work.
- MinHash and 32-bit SimHash hash with the dialect-portable polynomial
  (functions/texthash.py), so the DuckDB oracle verifies pair sets
  value-for-value; the n-gram index keys on xxhash64 shingle hashes,
  since only counts leave it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongoshake_spark.functions.texthash import MOD, poly_hash_spark

N_MINHASH = 16
N_BANDS = 4
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # both widths: bits / 4 per band


def exact_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; keeper = min doc_id per group."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def shingle_rows(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct rows: k-token shingles of the whitespace
    tokenization. Guard: Spark's sequence(1, n) DESCENDS when n < 1, so
    short docs must short-circuit to an empty array.

    The input is repartitioned first: shingling is CPU-bound, and a small
    parquet file arrives as a single split — without the repartition every
    downstream expression runs in one task (observed 5s -> 0.3s here).
    At real scale the scan already has many splits and AQE keeps this
    exchange cheap."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    # Materialize the token array ONCE per row in its own projection.
    # Referencing the split() expression directly inside the transform
    # lambda would re-split the text for every element_at (observed ~180
    # re-splits per row); Catalyst keeps a non-cheap multi-referenced
    # alias as a separate project, so this stays a single split.
    with_toks = docs.select("doc_id", F.split(F.col(text_col), " ").alias("toks"))
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1))
    mk = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]),
    )
    sh = F.when(F.size(toks) >= k, mk).otherwise(F.array().cast("array<string>"))
    return with_toks.select(
        F.col("doc_id"), F.explode(F.array_distinct(sh)).alias("shingle")
    )


def hashed_shingle_rows(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, shingle bigint) distinct rows: the k-token shingle as a
    direct ``xxhash64`` over the k tokens — no concatenated string is
    ever built, and everything downstream (doc-frequency cut, index
    checkpoint, self-join shuffle) moves 8-byte keys instead of
    multi-token strings. Tokens come from splitting on ' ', so they
    contain no separator and the k-tuple -> hash map is injective
    modulo 64-bit collisions (~n²/2⁶⁵ for n distinct shingles — at a
    billion shingles still ~3%% chance of ONE colliding pair corpus-wide,
    which moves a single Jaccard count by one; the standard trade every
    shingle-hashing dedup pipeline makes, Broder 1997)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    with_toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("toks")
    )
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1))
    mk = F.transform(
        idx,
        lambda i: F.xxhash64(
            *[F.element_at(toks, i + F.lit(j)) for j in range(k)]
        ),
    )
    sh = F.when(F.size(toks) >= k, mk).otherwise(
        F.array().cast("array<bigint>")
    )
    return with_toks.select(
        F.col("doc_id"), F.explode(F.array_distinct(sh)).alias("shingle")
    )


def _hashed_shingles(docs: DataFrame, text_col: str) -> DataFrame:
    return shingle_rows(docs, text_col).select(
        "doc_id", F.expr(poly_hash_spark("shingle")).alias("h")
    )


def _poly(s: str) -> int:
    """Python twin of texthash.poly_hash_spark — identical integers."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % MOD
    return h


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, m0..m15) signature matrix via an Arrow-batched mapInPandas.

    Why a pandas UDF here and not the pure-expression form: the equivalent
    JVM plan is a HashAggregate with 16 modular-arithmetic agg expressions
    over a polynomial-hash projection — correct, but its generated code
    takes seconds of Janino compilation per session and the hash runs
    interpreted per character. The UDF computes the *identical* integers
    with NO per-shingle Python at all: tokens are factorized batch-wide
    and each distinct token hashed once in numpy
    (texthash.poly_hash_numpy), then every 3-token shingle hash is
    composed arithmetically — H(x‖y) = H(x)·31^len(y) + H(y) (mod M), so
    H(t1␠t2␠t3) folds from the token hashes, lengths and a 31-powers
    table without ever building the shingle string. Window validity is a
    doc-boundary mask over the flat token array; per-doc minima are 16
    ``minimum.reduceat`` passes (min over the window multiset equals min
    over the shingle SET, so no dedup step is needed). Measured 3-4x the
    memoized per-shingle loop per core, with bounded memory (the memo
    cache grew without bound across a long-lived executor task). Rows
    never widen: in (doc_id, text), out (doc_id, 16 longs).
    """
    import numpy as np
    import pandas as pd

    from mongoshake_spark.functions.texthash import poly_hash_numpy

    coef_a = np.array([2 * i + 1 for i in range(N_MINHASH)], dtype=np.int64)
    coef_b = np.array([7919 * i for i in range(N_MINHASH)], dtype=np.int64)

    def sig_batches(batches):
        for pdf in batches:
            doc_ids, all_toks, nlist = [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                toks = txt.split(" ") if txt else []
                if len(toks) < 3:
                    continue
                doc_ids.append(doc_id)
                all_toks.extend(toks)
                nlist.append(len(toks))
            if not doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        **{
                            f"m{i}": pd.Series(dtype="int64")
                            for i in range(N_MINHASH)
                        },
                    }
                )
                continue
            n_arr = np.asarray(nlist, dtype=np.int64)
            codes, distinct = pd.factorize(np.asarray(all_toks, dtype=object))
            hw = poly_hash_numpy(list(distinct))
            lw = np.fromiter(
                (len(s) for s in distinct), dtype=np.int64, count=len(distinct)
            )
            h, ln = hw[codes], lw[codes]
            max_len = int(lw.max()) if len(lw) else 0
            pow31 = np.empty(max_len + 1, dtype=np.int64)
            pow31[0] = 1
            for k in range(1, max_len + 1):
                pow31[k] = (pow31[k - 1] * 31) % MOD
            # H(t1 + ' ' + t2 + ' ' + t3): ' ' appends as *31 + 32;
            # intermediate products stay < MOD * 31^1-step < 2^63
            a_h, b_h, c_h = h[:-2], h[1:-1], h[2:]
            sh = ((a_h * 31 + 32) % MOD * pow31[ln[1:-1]] + b_h) % MOD
            sh = ((sh * 31 + 32) % MOD * pow31[ln[2:]] + c_h) % MOD
            doc_idx = np.repeat(np.arange(len(n_arr)), n_arr)
            shv = sh[doc_idx[:-2] == doc_idx[2:]]
            wins = n_arr - 2  # every kept doc has >= 3 tokens
            starts = np.zeros(len(wins), dtype=np.int64)
            np.cumsum(wins[:-1], out=starts[1:])
            mat = np.empty((len(wins), N_MINHASH), dtype=np.int64)
            for i in range(N_MINHASH):
                mat[:, i] = np.minimum.reduceat(
                    (coef_a[i] * shv + coef_b[i]) % MOD, starts
                )
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    **{f"m{i}": mat[:, i] for i in range(N_MINHASH)},
                }
            )

    schema = "doc_id bigint, " + ", ".join(f"m{i} bigint" for i in range(N_MINHASH))
    parallel = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(parallel, "doc_id").select("doc_id", text_col).mapInPandas(
        sig_batches, schema=schema
    )


def minhash_bands(
    docs: DataFrame, text_col: str = "text", sigs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, band_key) — the LSH bucket assignment.

    Minhash family h_i(x) = ((2i+1)*x + 7919*i) mod P, i in [0,16);
    4 bands of 4 signature values, band_key = comma-joined values in i
    order.

    The signature matrix comes from minhash_signatures (Arrow-vectorized,
    no shuffle — the repartition inside doubles as the distribution);
    bands explode from the in-row signature columns, JVM-side. Pass a
    precomputed ``sigs`` matrix to share one signature pass between the
    band join and a downstream signature-agreement stage.
    """
    sig = sigs if sigs is not None else minhash_signatures(docs, text_col)
    per_band = N_MINHASH // N_BANDS
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[F.col(f"m{b * per_band + j}").cast("string") for j in range(per_band)],
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands_arr).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct ``(doc_a, doc_b)``, doc_a < doc_b, sharing >= 1 band of a
    :func:`minhash_bands` table (a pair joins once per shared band, hence
    the ``distinct``). Checkpoint the bands or their signatures first so
    the two join sides do not each rerun the signature kernel."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing >= 1 LSH band.
    The band table is locally checkpointed — both sides of the self-join
    reuse the materialized rows instead of recomputing the shingle+hash
    pipeline twice, and the blocks are released when the result goes out
    of scope (no persist left pinned in a long-lived session)."""
    return minhash_band_pairs(
        minhash_bands(docs, text_col).localCheckpoint(eager=True)
    )


def incremental_minhash_pairs(
    corpus_bands: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    broadcast_increment: bool = True,
    increment_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental LSH dedup — the daily-crawl production shape: dedupe a
    NEW batch of documents against an existing corpus using the corpus's
    STORED band index, plus against itself, without ever re-self-joining
    the corpus.

    ``corpus_bands`` is the persisted output of :func:`minhash_bands` over
    the existing corpus (written once at corpus build, appended as
    increments are accepted); ``increment`` is the raw new batch. Doc-id
    spaces must be disjoint (the corpus is deduped, increment ids are
    fresh).

    Returns ``(doc_a, doc_b, origin)``: ``origin='corpus'`` pairs have
    doc_a in the corpus and doc_b in the increment; ``origin='increment'``
    pairs are increment-internal with doc_a < doc_b.

    Scale shape: the increment's band table is a day of data vs years of
    corpus — it broadcasts (default), so the corpus-side probe is a
    MAP-ONLY scan of the stored index: no shuffle touches the corpus, and
    cost is O(|corpus index| read + |increment|²-within-buckets). Set
    ``broadcast_increment=False`` for a backfill-sized increment; the join
    then shuffles both sides on (band, band_key). This is the reason
    band indexes are worth persisting: full re-dedup is O(corpus
    self-join), the increment path is O(one index scan) per day.

    Pass ``increment_bands`` (a MATERIALIZED minhash_bands output for
    the same increment) when the caller also needs the bands — e.g. the
    streaming ingest path appends them to the index — so the signature
    kernel runs once per batch, not twice.
    """
    inc_bands = (
        minhash_bands(increment, text_col).localCheckpoint(eager=True)
        if increment_bands is None
        else increment_bands
    )
    probe = F.broadcast(inc_bands) if broadcast_increment else inc_bands
    vs_corpus = (
        corpus_bands.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .withColumn("origin", F.lit("corpus"))
    )
    vs_self = minhash_band_pairs(inc_bands).withColumn("origin", F.lit("increment"))
    return vs_corpus.unionByName(vs_self)


def simhash_values(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over the token multiset (term
    frequency = weight). Bit b set iff the sum over tokens of ±1 (sign of
    bit b of the token hash) is positive.

    Arrow-batched mapInPandas, same rationale as minhash_signatures: the
    expression form is a 32-wide conditional-sum HashAggregate whose
    generated code costs seconds to compile. The UDF computes identical
    integers with no per-character/per-token Python hashing: tokens are
    factorized batch-wide and each distinct token hashed ONCE in numpy
    (texthash.poly_hash_numpy); the per-doc ±1 bit sums stay a small
    per-doc numpy expansion — expanding the bit matrix for every token
    occurrence at once moves 32x the data through memory and measured
    SLOWER than the doc loop. Token MULTISET semantics preserved (every
    occurrence contributes its ±1). One row out per doc, no shuffle.
    """
    import numpy as np
    import pandas as pd

    from mongoshake_spark.functions.texthash import poly_hash_numpy

    weights = (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64))
    bit_range = np.arange(SIMHASH_BITS)

    def sim_batches(batches):
        for pdf in batches:
            doc_ids, all_toks, bounds = [], [], [0]
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                toks = txt.split(" ") if txt else [""]
                doc_ids.append(doc_id)
                all_toks.extend(toks)
                bounds.append(len(all_toks))
            if not doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "simhash": pd.Series(dtype="int64"),
                    }
                )
                continue
            codes, distinct = pd.factorize(np.asarray(all_toks, dtype=object))
            h = poly_hash_numpy(list(distinct))[codes]
            sims = np.empty(len(doc_ids), dtype=np.int64)
            for d in range(len(doc_ids)):
                hv = h[bounds[d] : bounds[d + 1]]
                sums = (((hv[:, None] >> bit_range) & 1) * 2 - 1).sum(axis=0)
                sims[d] = (weights * (sums > 0)).sum()
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": sims})

    parallel = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(parallel, "doc_id")
        .select("doc_id", text_col)
        .mapInPandas(sim_batches, schema="doc_id bigint, simhash bigint")
    )


def simhash_pairs(docs: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs ``(doc_a, doc_b, hamming)`` with Hamming distance
    <= 3 over the 32-bit fingerprint (:func:`simhash_values`), found by
    the shared band join (:func:`_simhash_band_pairs`) with 4x8-bit bands
    — same pair set as a brute-force cross join, at shuffle-join cost.
    The oracle-parity form: use :func:`simhash_pairs64` in production.
    Precondition: ``doc_id`` is unique in ``docs``."""
    return _simhash_band_pairs(docs, text_col, max_hamming, SIMHASH_BITS)


FNV64_OFFSET = 0xCBF29CE484586325
FNV64_PRIME = 0x100000001B3
U64 = 1 << 64
SIMHASH64_BITS = 64


def _fnv1a64(s: str) -> int:
    """FNV-1a 64-bit over codepoints-mod-256 (dialect-portable: DuckDB's
    ``ascii`` yields the codepoint, and folding to a byte keeps the xor
    step expressible with plain integer arithmetic on both engines).
    Returns the UNSIGNED value in [0, 2^64)."""
    h = FNV64_OFFSET
    for ch in s:
        h ^= ord(ch) % 256
        h = (h * FNV64_PRIME) % U64
    return h


def _fnv1a64_numpy(strings) -> "np.ndarray":
    """Vectorized batch form of :func:`_fnv1a64`: one uint64 per string,
    bit-identical. Same column-by-column fold as
    ``texthash.poly_hash_numpy`` — O(max_len) numpy passes instead of
    per-character Python — with uint64 wraparound doing the mod 2^64."""
    import numpy as np

    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    h = np.full(n, FNV64_OFFSET, dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return h
    codes = (
        np.frombuffer("".join(strings).encode("utf-32-le"), dtype=np.uint32)
        .astype(np.uint64)
        % np.uint64(256)
    )
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    prime = np.uint64(FNV64_PRIME)
    for j in range(int(lens.max())):
        active = lens > j
        idx = starts[active] + j
        h[active] = (h[active] ^ codes[idx]) * prime
    return h


def _to_i64(u: int) -> int:
    return u - U64 if u >= (1 << 63) else u


def simhash_values64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash, the production fingerprint.
    Same mapInPandas shape as :func:`simhash_values` (one row in, one row
    out, no shuffle), but FNV-1a 64-bit token hashes so all 64 fingerprint
    bits carry signal (the 32-bit form's polynomial hash is mod 1e9+7,
    which dead-zeroes bits 30-31). Emitted as a SIGNED bigint (two's
    complement) so downstream xor/bit_count stay JVM-side.

    Hashing is batch-vectorized like :func:`simhash_values`: tokens
    factorized batch-wide, distinct tokens hashed once in numpy
    (:func:`_fnv1a64_numpy` — no per-character Python, bounded memory vs
    the old unbounded memo dict); the ±1 bit sums stay a small per-doc
    numpy expansion (the all-occurrences 64-wide bit matrix measured
    slower — 64x memory traffic). Token multiset semantics kept.
    Measured 3.4x the memoized scalar loop per core on a low-repetition
    corpus (scripts/sig_throughput_pair.py)."""
    import numpy as np
    import pandas as pd

    bit_range = np.arange(SIMHASH64_BITS, dtype=np.uint64)

    def sim_batches(batches):
        for pdf in batches:
            doc_ids, all_toks, bounds = [], [], [0]
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                toks = txt.split(" ") if txt else [""]
                doc_ids.append(doc_id)
                all_toks.extend(toks)
                bounds.append(len(all_toks))
            if not doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "simhash": pd.Series(dtype="int64"),
                    }
                )
                continue
            codes, distinct = pd.factorize(np.asarray(all_toks, dtype=object))
            h = _fnv1a64_numpy(list(distinct))[codes]
            sims = np.empty(len(doc_ids), dtype=np.int64)
            for d in range(len(doc_ids)):
                hv = h[bounds[d] : bounds[d + 1]]
                sums = (
                    ((hv[:, None] >> bit_range) & np.uint64(1)).astype(np.int64)
                    * 2
                    - 1
                ).sum(axis=0)
                u = ((sums > 0).astype(np.uint64) << bit_range).sum(
                    dtype=np.uint64
                )
                sims[d] = np.uint64(u).view(np.int64)
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": sims})

    parallel = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(parallel, "doc_id")
        .select("doc_id", text_col)
        .mapInPandas(sim_batches, schema="doc_id bigint, simhash bigint")
    )


def simhash_band_keys(sims: DataFrame) -> DataFrame:
    """(doc_id, simhash, k, band_val) — 4x16-bit LSH band assignment over a
    64-bit fingerprint. Exposed separately so tests can feed synthetic
    fingerprints and assert the band-key space really is >= 2^16 (the
    scale fix over the 8-bit bands: join-key cardinality 4*65536 instead
    of 4*256, so bucket sizes shrink ~256x at any corpus size).

    Arithmetic note: ``(simhash >> s) & 65535`` on the SIGNED bigint equals
    the unsigned band for s in {0,16,32,48} — the arithmetic-shift
    correction term is a multiple of 2^16 and the mask removes it."""
    return _simhash_bands(sims, SIMHASH64_BITS // SIMHASH_BANDS)


def _simhash_bands(sims: DataFrame, width: int) -> DataFrame:
    """(doc_id, simhash, k, band_val): band k is fingerprint bits
    [k * width, (k + 1) * width)."""
    bands = sims.sparkSession.range(SIMHASH_BANDS).withColumnRenamed("id", "k")
    return sims.crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "simhash",
        "k",
        F.expr(f"(simhash >> ({width} * CAST(k AS INT))) & {(1 << width) - 1}").alias(
            "band_val"
        ),
    )


def simhash_pairs64(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_cap: int | None = None,
    sims: DataFrame | None = None,
) -> DataFrame:
    """Production near-dup pairs: Hamming <= 3 over the 64-bit fingerprint
    (:func:`simhash_values64`) via the shared band join
    (:func:`_simhash_band_pairs`) with 4x16-bit bands — without a cap
    EXACT, the same pair set as brute force at shuffle-join cost.

    ``bucket_cap`` bounds the per-bucket quadratic term the way the
    reference bounds collision groups (executor/collision_matrix.go:167-222
    caps candidate segments rather than comparing everything): any
    (k, band_val) bucket holding more than ``bucket_cap`` docs is re-split
    by ceil(log2(n/cap)) extra fingerprint bits drawn from the next band.
    Docs with *identical* fingerprints stay together under any re-split
    (their pairs are true dups and survive); pairs that differ in the
    borrowed bits may be missed *in that band only* — bounded recall loss
    on pathological boilerplate buckets, zero loss everywhere else. Leave
    ``bucket_cap=None`` for the exact join.

    ``sims`` (testing/reuse hook): a precomputed (doc_id, simhash)
    DataFrame; skips fingerprint computation.

    Precondition: ``doc_id`` is unique in ``docs`` (and in ``sims``). The
    uncapped path emits each pair once from its lowest matching band
    instead of running a ``distinct``, so repeated ids yield repeated
    ``(doc_a, doc_b)`` pairs (``duplicate_clusters`` re-distincts its
    edges; direct consumers of the pair list see the repeats)."""
    return _simhash_band_pairs(
        docs, text_col, max_hamming, SIMHASH64_BITS, bucket_cap, sims
    )


def _simhash_band_pairs(
    docs: DataFrame,
    text_col: str,
    max_hamming: int,
    bits: int,
    bucket_cap: int | None = None,
    sims: DataFrame | None = None,
) -> DataFrame:
    """The SimHash band self-join for both fingerprint widths: ``bits``
    picks the fingerprint (32 -> :func:`simhash_values`, 64 ->
    :func:`simhash_values64`) and the band width ``bits / 4``. Pigeonhole:
    <= 3 differing bits across 4 bands leave >= 1 band identical, so the
    uncapped join finds every pair with Hamming <= ``max_hamming``."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} voids the {SIMHASH_BANDS}-band "
            "pigeonhole guarantee (exact only for <= "
            f"{SIMHASH_BANDS - 1}); add bands or brute-force"
        )
    if sims is None:
        # checkpoint, not persist: both join sides and the census reuse the
        # materialized fingerprints, and the blocks free on GC instead of
        # accumulating across calls. A caller-supplied ``sims`` is used
        # as-is — the caller owns its caching.
        fingerprint = simhash_values64 if bits == SIMHASH64_BITS else simhash_values
        sims = fingerprint(docs, text_col).localCheckpoint(eager=True)
    width = bits // SIMHASH_BANDS
    keyed = _simhash_bands(sims, width)
    if bucket_cap is not None:
        # Hot-bucket census. The over-cap list is tiny by construction
        # (<= corpus/cap entries), so it broadcasts.
        over = (
            keyed.groupBy("k", "band_val")
            .agg(F.count("*").alias("n_bucket"))
            .filter(F.col("n_bucket") > bucket_cap)
            .withColumn(
                "extra_bits",
                F.least(
                    F.ceil(F.log2(F.col("n_bucket") / F.lit(bucket_cap))),
                    F.lit(width),
                ).cast("int"),
            )
            .select("k", "band_val", "extra_bits")
        )
        keyed = keyed.join(F.broadcast(over), ["k", "band_val"], "left").withColumn(
            "sub",
            F.when(F.col("extra_bits").isNull(), F.lit(0)).otherwise(
                F.expr(
                    f"(simhash >> ({width} * CAST((k + 1) % {SIMHASH_BANDS} AS INT))) "
                    "& ((1 << extra_bits) - 1)"
                )
            ),
        )
    else:
        keyed = keyed.withColumn("sub", F.lit(0))
    a, b = keyed.alias("a"), keyed.alias("b")
    joined = a.join(
        b,
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    if bucket_cap is None:
        # min-matching-band emission replaces the pair `distinct`: a
        # Hamming<=3 pair collides in up to all 4 bands. Which bands match
        # is fully determined IN-ROW by the xor of the two fingerprints
        # (band j matches iff its chunk is 0), so emitting the pair only
        # from its LOWEST matching band yields each pair exactly once (for
        # unique doc ids) — same set, one less corpus-pairs shuffle (guide
        # §2.4). Only valid uncapped: a re-split bucket's `sub` bits depend
        # on the census broadcast, so whether a pair matched in a LOWER
        # band is no longer row-computable — the capped path keeps the
        # distinct.
        first_band = F.expr(
            "CASE "
            + " ".join(
                f"WHEN ((a.simhash ^ b.simhash) >> {width * j}) "
                f"& {(1 << width) - 1} = 0 THEN {j}"
                for j in range(SIMHASH_BANDS - 1)
            )
            + f" ELSE {SIMHASH_BANDS - 1} END"
        )
        joined = joined.filter(F.col("a.k") == first_band)
    pairs = joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    return pairs if bucket_cap is None else pairs.distinct()


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    max_iter: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """Final step of corpus dedup: connected components over the near-dup
    pair graph -> (doc_id, cluster_id), cluster_id = min doc_id reachable.
    The keep-one-per-cluster policy is then ``cluster_id == doc_id``.

    Two algorithms, both one-shuffle-per-round with localCheckpoint'ed
    intermediates (the plan never deepens with iterations):

    - ``"propagation"`` (default): min-label propagation — each round every
      node takes the minimum label among itself and its neighbors;
      converges in O(graph diameter) rounds. Near-dup graphs are unions of
      small cliques (diameter 1-2 almost everywhere), so 2-3 rounds close
      a corpus. If the cap is hit before convergence the function RAISES
      — partial labels are silent wrong answers, never returned.
    - ``"star"``: alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond"): each round
      rewires every node's larger (resp. smaller) neighbors to its
      neighborhood minimum, collapsing any component into a star in
      O(log n) rounds regardless of diameter — the scale path for
      chain-shaped graphs that out-run the propagation cap.

    Singleton documents (no pairs) keep their own id as cluster_id.
    """
    if pairs is None:
        pairs = minhash_pairs(docs, text_col)
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=True)
    if algorithm == "star":
        return _star_components(docs, edges, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    labels = docs.select("doc_id").withColumn("cluster_id", F.col("doc_id"))
    labels = labels.localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("_nmin"))
        )
        # one pass carries both the new label and the changed flag, so the
        # convergence check is an aggregate over the checkpointed result
        # instead of a second join against the old labels
        new_labels = (
            labels.join(neigh_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("_nmin") < F.col("cluster_id")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters: label propagation did not converge within "
            f"max_iter={max_iter} rounds ({changed} labels still moving) — "
            f"the pair graph has a component with diameter > max_iter; "
            f"rerun with algorithm='star' (O(log n) rounds) or a larger cap"
        )
    return labels


def _star_components(docs: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Per round, for every node u with neighborhood Γ(u) and
    m = min(Γ(u) ∪ {u}):

    - large-star rewires each v ∈ Γ(u) with v > u to m,
    - small-star rewires each v ∈ Γ(u) with v <= u, plus u itself, to m.

    Each is one groupBy + one join on the symmetric edge list; the edge
    set is re-symmetrized and localCheckpoint'ed between rounds. The pair
    (large ∘ small) strictly contracts component height, reaching the
    star fixpoint in O(log n) rounds — the documented remedy for graphs
    whose diameter exceeds the propagation cap.
    """
    for _ in range(max_iter):
        new_edges = edges
        for large in (True, False):
            mins = (
                new_edges.groupBy("src")
                .agg(F.min("dst").alias("_mn"))
                .select("src", F.least(F.col("src"), F.col("_mn")).alias("_m"))
            )
            joined = new_edges.join(mins, "src")
            if large:
                out = joined.filter(F.col("dst") > F.col("src")).select(
                    F.col("dst").alias("a"), F.col("_m").alias("b")
                )
            else:
                out = (
                    joined.filter(F.col("dst") <= F.col("src"))
                    .select(F.col("dst").alias("a"), F.col("_m").alias("b"))
                    .unionByName(
                        mins.select(F.col("src").alias("a"), F.col("_m").alias("b"))
                    )
                )
            undirected = out.filter(F.col("a") != F.col("b"))
            new_edges = (
                undirected.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionByName(
                    undirected.select(F.col("b").alias("src"), F.col("a").alias("dst"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
        # fixpoint when the small-star round changed nothing (star shape:
        # every non-min node points only at its component min)
        delta = new_edges.exceptAll(edges).limit(1).count() + edges.exceptAll(
            new_edges
        ).limit(1).count()
        edges = new_edges
        if delta == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters(algorithm='star') did not reach the star "
            f"fixpoint within max_iter={max_iter} rounds"
        )
    root = edges.groupBy("src").agg(F.min("dst").alias("_mn"))
    return (
        docs.select("doc_id")
        .join(root, docs["doc_id"] == root["src"], "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("_mn"), F.col("doc_id"))
            ).alias("cluster_id"),
        )
    )


def _shingle_index(
    docs: DataFrame, text_col: str, max_df: int | None
) -> DataFrame:
    """The inverted-index prelude SHARED by :func:`ngram_jaccard_pairs`
    and :func:`ngram_containment_pairs` — one definition so the two
    operators' documented "identical max_df semantics" cannot diverge.
    Returns the shingle rows after the max_df posting cutoff with the
    per-doc shingle count ``n_sh`` ATTACHED to every row, so consumers
    read numerator and denominator from the one index (no separate
    counts aggregation, no join back onto the candidate pairs).

    Shapes chosen for scale:
    - the max_df doc-frequency cut stays a groupBy + join (map-side
      combine, AQE skew split on hot boilerplate shingles; AQE
      broadcasts the keep-set at runtime when it is small) — a window
      over ``shingle`` would funnel each hot posting list through one
      task;
    - ``n_sh`` IS a window, but over ``doc_id`` — a partition is one
      document's shingles, bounded by document length, no skew risk;
    - shingles are 64-bit token-triple hashes (:func:`hashed_shingle_rows`)
      — the df cut, cache, and self-join all move 8-byte keys;
    - the index is ``persist``-ed (MEMORY_AND_DISK), not
      localCheckpoint'ed: eager checkpoints here AQE-coalesce the
      window output to ~2 partitions, serializing the downstream
      posting-list self-join (measured 3.0s vs 1.6s at sf0.1); the SQL
      cache keeps full stage width, both self-join legs (and a
      same-corpus jaccard+containment pair) share ONE entry because
      the cache is keyed on the analyzed plan, and blocks are
      LRU-evicted under memory pressure, so a long session degrades to
      recompute rather than OOM. The raw (pre-cut) rows are persisted
      only while the index materializes, so the cut's aggregate and
      probe legs don't each re-run the split/explode tree, then
      released.

    Cache lifetime contract: the index stays persisted after the call —
    on purpose, so a same-corpus jaccard+containment pair shares one
    entry — and is registered in ``_PERSISTED_INDEXES``. LRU eviction
    bounds the memory cost, but a long-lived session that is DONE with
    n-gram dedup should call :func:`release_shingle_indexes` so these
    entries stop competing with other cached state for executor memory."""
    raw = hashed_shingle_rows(docs, text_col)
    sh = raw
    if max_df is not None:
        raw = raw.persist()
        df_counts = raw.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = raw.join(
            df_counts.filter(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    sh = sh.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    sh = sh.persist()
    sh.count()  # materialize the index before releasing the raw rows
    if max_df is not None:
        raw.unpersist()
    _PERSISTED_INDEXES.append(sh)
    return sh


#: shingle indexes persisted by :func:`_shingle_index` and not yet
#: released — see the cache-lifetime contract in its docstring
_PERSISTED_INDEXES: list[DataFrame] = []


def release_shingle_indexes() -> int:
    """Unpersist every shingle index still cached by
    :func:`ngram_jaccard_pairs` / :func:`ngram_containment_pairs` calls in
    this session; returns how many were released. Safe to call while a
    consumer plan is still lazy — Spark recomputes uncached parents — so
    call it once the pair outputs are materialized."""
    n = len(_PERSISTED_INDEXES)
    while _PERSISTED_INDEXES:
        df = _PERSISTED_INDEXES.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session stopped: its blocks
            pass  # died with it; the registry entry is all that's left
    return n


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num: int = 1,
    den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs with 3-shingle Jaccard >= num/den (default 0.2), computed with
    integer arithmetic only: |A∩B|*den >= num*(|A|+|B|-|A∩B|).

    Inverted-index self-join on the shingle: only docs sharing a shingle
    ever meet, which equals the brute-force result because disjoint pairs
    have Jaccard 0. This is the scalable shape — cost is sum of squared
    posting-list lengths, not |docs|².

    ``max_df`` bounds those posting lists: shingles appearing in more than
    ``max_df`` documents are dropped from the shingle universe — both from
    the inverted index AND the per-doc counts, so the semantics stay
    well-defined (Jaccard over the restricted universe) and the oracle can
    state them identically. Boilerplate shingles are exactly the ones that
    make posting lists quadratic at corpus scale while carrying no dedup
    signal; a production run should always set this (e.g. 1000).

    The per-doc sizes ride ON the index rows (``_shingle_index`` attaches
    ``n_sh``), so numerator and denominators come out of the ONE pair
    aggregation — no counts table, no join back onto the pairs.
    """
    return _shingle_overlap(docs, text_col, max_df).filter(
        F.col("common") * den >= num * (F.col("na") + F.col("nb") - F.col("common"))
    )


def _shingle_overlap(
    docs: DataFrame, text_col: str, max_df: int | None
) -> DataFrame:
    """``(doc_a, doc_b, common, na, nb)`` for every unordered pair
    doc_a < doc_b sharing >= 1 shingle: the n-gram posting self-join over
    :func:`_shingle_index`, shared by Jaccard and containment. ``common``
    is the shared-shingle count, ``na``/``nb`` the docs' shingle counts
    (read off the index rows). Each candidate is built once, not once per
    direction."""
    sh = _shingle_index(docs, text_col, max_df)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("common"),
            F.min(F.col("a.n_sh")).alias("na"),
            F.min(F.col("b.n_sh")).alias("nb"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-level duplication (the Lee et al. 2021 "Deduplicating
    Training Data" shape, re-expressed relationally): find every ``w``-token
    window that occurs more than once ANYWHERE in the corpus, and report per
    document how much of it is covered by such duplicated spans.

    Output: (doc_id, n_dup_positions, dup_token_cov) for documents with at
    least one duplicated window — ``n_dup_positions`` is the number of
    window start positions whose window is corpus-duplicated and
    ``dup_token_cov`` the token count of the UNION of those [p, p+w) spans
    (overlaps merged), all exact integers.

    Scale shape: the corpus explodes to (doc_id, pos, md5(window)) rows —
    never the text itself — ONCE; duplicated positions are found with a
    single count-over-window partitioned by the 128-bit hash, so the
    exploded table shuffles exactly one time (the groupBy+join-back form
    re-explodes and re-hashes the corpus for the probe side — measured 2×
    slower at sf0.1). The window has no ORDER BY (whole-group count) and
    WindowExec spills per-group, so a boilerplate window duplicated
    millions of times degrades to disk instead of OOMing a collect_list.
    A suffix array is the single-machine tool for this job; the hash
    shuffle is the cluster one. The interval union is a per-document
    running-max window — partitioned by doc_id, no global ordering funnel.
    """
    from mongoshake_spark.functions.text import _ngram_col, tokens
    from mongoshake_spark.operators.parallel import fan_out_scan

    # gram construction shared with text._ngram_col — ONE definition of
    # window/tokenization semantics across the text + dedup operators
    grams = _ngram_col(tokens(F.col(text_col)), w)
    docs = fan_out_scan(docs)
    sh = docs.select(id_col, F.posexplode(grams).alias("p", "gram")).select(
        id_col, "p", F.md5("gram").alias("h")
    )
    from pyspark.sql import Window

    dup_pos = (
        sh.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("c") > 1)
        .select(id_col, "p")
    )
    prev_end = F.max(F.col("p") + w).over(
        Window.partitionBy(id_col)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = (F.col("p") + w) - F.greatest(
        F.coalesce(prev_end, F.col("p")), F.col("p")
    )
    return (
        dup_pos.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_dup_positions"),
            F.sum("contrib").cast("bigint").alias("dup_token_cov"),
        )
    )


# --- Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003) -----------
#
# The MOSS local fingerprinting scheme: hash every k-token gram, slide a
# window of w consecutive gram hashes, and select each window's minimal
# hash (rightmost on ties). Guarantees: any shared token run of at least
# w + k - 1 tokens yields at least one shared selected fingerprint, while
# only ~2/(w+1) of positions are selected — the standard robust
# fingerprinting scheme for overlap/plagiarism detection at corpus scale.


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct winnowed fingerprints per document: ``(id_col, h)``.

    The whole selection runs IN-ROW as nested higher-order expressions
    (token split -> k-gram strings -> polynomial hashes -> window minima),
    whole-stage codegen with zero Python and zero shuffle; only the
    selected (id, h) pairs — ~2/(w+1) of gram positions — ever become
    rows. Ties break to the RIGHTMOST minimal hash via the
    ``h * (nk+1) + (nk - pos)`` packing (min over the packed value is
    lexicographic (h, -pos)); the per-doc pack multiplier keeps values
    well under 2^63 (hash < 1e9+7).

    Documents shorter than ``k`` tokens produce no fingerprints; documents
    with fewer than ``w`` grams winnow over one whole-document window.
    Reference analog: per-value signatures in the reference's collision
    matrix (executor/collision_matrix.go:167-222) — same
    compact-signature idea, published-algorithm selection.
    """
    gram = "concat(" + ", ' ', ".join(f"t[i + {d}]" for d in range(k)) + ")"
    # the parity-critical hash comes from texthash (single definition);
    # "g" is the lambda variable the expression is evaluated under
    poly = poly_hash_spark("g")
    # ONE expression with `t` (token array) and `hs` (gram-hash array)
    # bound as single-element-array lambda variables. Bound this way each
    # subtree is code-generated ONCE; expressed as chained projections,
    # Catalyst's projection collapse inlines `hs` into its ~6 references
    # and the duplicated nested-lambda subtrees blow generated-code size up
    # ~7x (measured 41 s vs 5.5 s first-execution at sf0.1 — compile time,
    # paid again by every fresh executor JVM). The size(t) >= k filter
    # guarantees size(hs) >= 1 inside.
    bound = f"""
    transform(array(split({text_col}, ' ')), t ->
      transform(array(transform(transform(sequence(0, size(t) - {k}),
                                          i -> {gram}),
                                g -> {poly})), hs ->
        transform(
          array_distinct(transform(
            sequence(least({w}, size(hs)), size(hs)),
            e -> array_min(transform(
              sequence(e - least({w}, size(hs)) + 1, e),
              j -> element_at(hs, j) * (size(hs) + 1) + (size(hs) - j))))),
          s -> s div (size(hs) + 1))
      )[0]
    )[0]"""
    from mongoshake_spark.operators.parallel import fan_out_scan

    return (
        fan_out_scan(docs)
        .filter(F.expr(f"size(split({text_col}, ' ')) >= {k}"))
        .selectExpr(id_col, f"explode({bound}) AS h")
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints:
    ``(doc_a, doc_b, shared)``.

    Scale shape: the self-join keys on the fingerprint hash — high
    cardinality (1e9+7 space), so the exchange partitions evenly. A
    boilerplate fingerprint shared by thousands of documents is still a
    hot bucket: AQE's skew split divides the join input, but the
    bucket's quadratic pair work stays inside a few tasks (module
    docstring); per-doc fingerprints are already distinct so ``count(*)``
    per pair IS the shared-fingerprint count. The pair aggregate has
    map-side partial combine. Same postings-join shape as
    :func:`ngram_jaccard_pairs`, at ~2/(w+1) the row count.
    """
    fp = winnow_fingerprints(docs, k, w, text_col, id_col)
    a = fp.select(F.col(id_col).alias("doc_a"), "h")
    b = fp.select(F.col(id_col).alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def minhash_estimate_pairs(
    docs: DataFrame, text_col: str = "text", round_digits: int = 4
) -> DataFrame:
    """The full MinHash pipeline's VERIFY stage: for every LSH-candidate
    pair, estimate Jaccard similarity as the fraction of agreeing
    signature components — ``(doc_a, doc_b, n_agree, est_jaccard)``.

    This is the standard scalable form (Broder 1997): the exact
    verification (:func:`ngram_jaccard_pairs`) re-touches shingle postings
    — O(sum of posting-list products); the estimate touches only the
    16-component signatures of candidate pairs, O(|candidates|), with the
    well-known ±1/sqrt(16) standard error. Thresholding on ``n_agree``
    replaces the exact-Jaccard threshold at corpus scale.

    Scale shape: the signature matrix is computed ONCE (localCheckpoint)
    and feeds both the band self-join (candidates) and the two signature
    lookups; all three joins key on doc ids / band keys — high
    cardinality, no broadcast of anything corpus-sized. Agreement is an
    in-row integer sum over the 16 columns (no explode, no per-component
    shuffle).
    """
    sigs = minhash_signatures(docs, text_col).localCheckpoint(eager=True)
    cand = minhash_band_pairs(minhash_bands(docs, text_col, sigs=sigs))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"_a{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"_b{i}") for i in range(N_MINHASH)],
    )
    n_agree = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(N_MINHASH)
    ).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_agree.alias("n_agree"),
            F.round(n_agree / F.lit(float(N_MINHASH)), round_digits).alias(
                "est_jaccard"
            ),
        )
    )


def normalize_text(col: Column | str = "text") -> Column:
    """THE canonicalization used by normalized exact dedup — lowercase,
    whitespace-collapse, trim — defined once so dedup_exact_normalized and
    the composed curation pipeline cannot drift apart on which document
    survives a dedup group."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def normalized_exact_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized-content dedup groups: ``(text_hash, n_docs, keep_id)``
    keyed on md5 of the canonical form; keeper = min id per group (the
    same hash-groupBy shape as :func:`exact_groups`)."""
    return docs.groupBy(F.md5(normalize_text(text_col)).alias("text_hash")).agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id")
    )


def unicode_canon(col: Column | str = "text", form: str = "NFC") -> Column:
    """Unicode-robust canonicalization for multilingual dedup: Unicode
    normalization (NFC default; NFKC folds compatibility forms —
    fullwidth letters, ligatures, NBSP) + FULL casefold (ß -> ss,
    İ -> i̇ — strictly stronger than lower()) + whitespace collapse +
    trim. :func:`normalize_text` (lowercase + collapse) misses
    composed-vs-decomposed accent spellings and case pairs outside
    1:1 lowering, which multilingual corpora hit constantly.

    Spark has no built-in Unicode normalizer, so this is the documented
    justified Python case, Arrow-batched like the texthash kernels:
    pandas ``.str.normalize/.casefold/.replace`` kernels run over whole
    Arrow batches (no per-row Python bytecode in the loop), the UDF is
    map-only (no shuffle moves text), and downstream hashing/groupBy
    stays JVM-side. NULLs pass through as NULL. Note ``\\s`` here is
    Python's Unicode class (collapses NBSP/ideographic space too) —
    deliberately wider than the ASCII ``\\s`` of the JVM-side
    :func:`normalize_text`."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unicode_canon: unknown normalization form {form!r}")

    def _canon(s):
        return (
            s.str.normalize(form)
            .str.casefold()
            .str.replace(r"\s+", " ", regex=True)
            .str.strip()
        )

    # real type objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints and pyspark could
    # not resolve 'pd.Series' against module globals (pandas is lazily
    # imported here)
    _canon.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_canon, "string")(
        F.col(col) if isinstance(col, str) else col
    )


def unicode_exact_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
) -> DataFrame:
    """Unicode-normalized exact dedup groups: ``(text_hash, n_docs,
    keep_id)`` keyed on md5 of :func:`unicode_canon`'s canonical form.
    Same 100 TB shape as :func:`exact_groups`: the canonicalization and
    md5 run map-side before the aggregate, so only 16-byte hashes (plus
    partial counts, map-side combined) ever shuffle — documents never
    move."""
    return docs.groupBy(
        F.md5(unicode_canon(text_col, form)).alias("text_hash")
    ).agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))


def source_duplicate_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplicate governance rollup from exact content matches —
    the corpus-curation dashboard number behind "which crawl/source is
    feeding us duplicates, and is it copying the others?".

    For each source: ``n_docs``, ``n_dup_docs`` (docs whose exact text
    occurs more than once anywhere in the corpus), and
    ``n_cross_source_dup_docs`` (docs whose text also occurs under a
    DIFFERENT source — cross-source contamination, the signal that one
    source mirrors another and should be down-weighted rather than
    deduped doc-by-doc).

    Scale shape: two hash aggregates and one equi-join, all keyed on the
    content hash (md5 — dialect-portable for the oracle; swap xxhash64
    for production). groupBy(hash, source) runs with map-side partial
    aggregation, its output is one row per (content, source) — already
    far smaller than the corpus — and the group-total join is
    hash-keyed (AQE-safe). Nothing rejoins the full corpus and no
    per-doc rows survive past the first aggregate. NULL-text documents
    count in ``n_docs`` but are never duplicates (no content to match).
    """
    h = F.md5(F.col(text_col))
    per_src = docs.select(h.alias("_h"), F.col(source_col)).groupBy(
        "_h", source_col
    ).agg(F.count("*").alias("_cnt_src"))
    totals = per_src.filter(F.col("_h").isNotNull()).groupBy("_h").agg(
        F.sum("_cnt_src").alias("_n")
    )
    # LEFT join: NULL-text docs (NULL hash) have no content to compare,
    # so they are never duplicates — but they MUST still count in n_docs
    # (an inner join's null-rejecting key would silently drop them from
    # the headline per-source total). Their _n stays NULL, so both dup
    # conditions below are NULL -> otherwise(0).
    return (
        per_src.join(totals, "_h", "left")
        .groupBy(source_col)
        .agg(
            F.sum("_cnt_src").alias("n_docs"),
            F.sum(F.when(F.col("_n") > 1, F.col("_cnt_src")).otherwise(0)).alias(
                "n_dup_docs"
            ),
            F.sum(
                F.when(F.col("_n") > F.col("_cnt_src"), F.col("_cnt_src")).otherwise(0)
            ).alias("n_cross_source_dup_docs"),
        )
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n_hashes: int = N_MINHASH,
    include_exact: bool = True,
) -> DataFrame:
    """Corpus-level overlap between sources: for every source pair, the
    EXACT vocabulary Jaccard and its MinHash sketch estimate — the
    dataset-mixing dashboard ("how much does crawl B re-cover crawl A,
    and can a 16-long sketch stand in for the exact join at 100 TB?").
    The sketch column is the scale path: per-source signatures aggregate
    in ONE map-side-combined pass and live as ``n_sources × n_hashes``
    longs, so day-over-day overlap tracking never re-joins vocabularies;
    the exact column (a vocabulary-keyed self-join) is the fixture-scale
    calibration baseline the estimate is judged against.

    Returns ``(src_a, src_b, n_a, n_b, n_common, exact_jaccard,
    minhash_est)`` for src_a < src_b. ``include_exact=False`` is the
    documented 100 TB path (DEPLOYMENT.md): it skips the vocabulary
    self-join entirely and returns only ``(src_a, src_b, minhash_est)``
    — ONE map-side-combined aggregate over the corpus plus a model-sized
    pairwise broadcast; run the exact columns only on calibration
    samples. (Catalyst cannot prune the join away itself because
    ``exact_jaccard`` is in the default output.)

    Hash family: the dedup module's (2i+1)·H + 7919·i (mod 1e9+7)
    permutations over the portable polynomial token hash — min over the
    token MULTISET equals min over the vocabulary SET, so the signature
    aggregate needs no distinct. Coefficients keep every product under
    31·MOD < 2^35 (exact in bigint on both engines).
    """
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = F.expr(poly_hash_spark("tok"))
    sig = toks.groupBy("src").agg(
        *[
            F.min((F.lit(2 * i + 1) * h + F.lit(7919 * i)) % F.lit(MOD)).alias(
                f"m{i}"
            )
            for i in range(n_hashes)
        ]
    )
    agree = sum(
        (F.col(f"ga.m{i}") == F.col(f"gb.m{i}")).cast("int") for i in range(n_hashes)
    )
    est = (
        sig.alias("ga")
        .join(F.broadcast(sig.alias("gb")), F.col("ga.src") < F.col("gb.src"))
        .select(
            F.col("ga.src").alias("src_a"),
            F.col("gb.src").alias("src_b"),
            (agree.cast("double") / F.lit(float(n_hashes))).alias("minhash_est"),
        )
    )
    if not include_exact:
        return est.select(
            "src_a", "src_b", F.round("minhash_est", 6).alias("minhash_est")
        )
    vocab = toks.distinct()
    sizes = vocab.groupBy("src").agg(F.count("*").alias("n"))
    inter = (
        vocab.alias("a")
        .join(vocab.alias("b"), "tok")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    # pairwise enumerations below are inequality-only joins over the
    # n_sources-row rollups: broadcast the right side so the plan is a
    # BroadcastNestedLoopJoin over model-sized state, never a
    # CartesianProduct of anything corpus-sized
    pairs = (
        sizes.alias("sa")
        .join(F.broadcast(sizes.alias("sb")), F.col("sa.src") < F.col("sb.src"))
        .select(
            F.col("sa.src").alias("src_a"),
            F.col("sb.src").alias("src_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
    )
    return pairs.join(F.broadcast(est), ["src_a", "src_b"]).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("exact_jaccard"),
        F.round("minhash_est", 6).alias("minhash_est"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num: int = 4,
    den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment: emit (inner,
    outer) when ``|inner ∩ outer| / |inner| >= num/den`` — integer
    arithmetic only (``common * den >= num * n_inner``). Jaccard misses
    the doc-inside-doc case (a quote, a wrapped boilerplate copy, a
    chunk re-embedded in a longer page): a short doc fully contained in
    a long one has tiny Jaccard but containment 1.0. Standard companion
    to Jaccard in dedup pipelines (Broder's containment measure).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — only docs
    sharing a shingle ever meet (disjoint pairs have containment 0, so
    the index join is exact), cost is the sum of squared posting-list
    lengths, and ``max_df`` bounds those lists identically (containment
    over the restricted shingle universe — the oracle states the same).
    Both directions are emitted when both hold; n_inner carries the
    denominator so the caller can re-threshold without recomputation.

    Containment reads the same unordered-pair overlap aggregate as
    Jaccard (:func:`_shingle_overlap`: self-join on ``a < b``, so each
    candidate is built once): every pair explodes into its two
    directions, ``(a, b, common, na)`` and ``(b, a, common, nb)``, and
    the threshold keeps the ones that hold — no counts table, no join
    back onto the candidate pairs.
    """
    both = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("inner_id"),
                F.col("doc_b").alias("outer_id"),
                F.col("na").alias("n_inner"),
            ),
            F.struct(
                F.col("doc_b").alias("inner_id"),
                F.col("doc_a").alias("outer_id"),
                F.col("nb").alias("n_inner"),
            ),
        )
    )
    return (
        _shingle_overlap(docs, text_col, max_df)
        .select("common", both.alias("d"))
        .select("d.inner_id", "d.outer_id", "common", "d.n_inner")
        .filter(F.col("common") * den >= num * F.col("n_inner"))
    )


def dedup_lines(
    docs: DataFrame,
    min_df: int = 2,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicate-LINE removal (the CCNet/RefinedWeb/Dolma
    boilerplate pass): a line that appears in ``min_df`` or more DISTINCT
    documents is removed from every document; survivors are re-joined in
    original order. Catches the cross-document boilerplate (navbars,
    cookie banners, license footers) that document-level dedup cannot —
    no reference analog; standard LLM-corpus curation.

    Lines are trimmed and empty lines dropped before counting (so
    indentation and blank spacing don't split the df count). Returns one
    row per document that has at least one non-empty line:
    ``(id_col, clean_text, n_kept, n_removed)`` — ``clean_text`` is ''
    when every line was boilerplate.

    Scale shape: three shuffles, all on small keys — (1) the
    doc-frequency count groups (md5(line)) with map-side combine and
    counts DISTINCT docs via a two-level agg (no count-distinct expansion
    per line occurrence); (2) the verdict joins back on md5 — a 16-byte
    key per line occurrence, never the document; a super-common
    boilerplate line is one hot key handled by AQE skew splitting;
    (3) the reassembly groups by doc id collecting (pos, line) structs —
    row count equals the corpus line count, same as the explode. The
    documents themselves are never shuffled whole except in (3), which is
    the unavoidable reassembly of the operator's own output."""
    # F.split takes a Java regex while array_join (reassembly below)
    # takes a literal — quote the separator (\Q...\E) so a sep with
    # regex metacharacters ('|', '.') splits literally and round-trips.
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    ).withColumn("line", F.trim(F.col("line"))).filter(F.col("line") != "")
    keyed = lines.withColumn("_h", F.md5(F.col("line")))
    # doc frequency: distinct docs per line, two-level (dedup then count)
    # so a line repeated inside one doc counts once
    df_tbl = (
        keyed.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
    )
    verdict = keyed.join(df_tbl, "_h").withColumn(
        "_keep", F.col("_df") < F.lit(min_df)
    )
    return (
        verdict.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"), F.struct("pos", "line")
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
            F.sum(F.col("_keep").cast("int")).alias("n_kept"),
            F.sum((~F.col("_keep")).cast("int")).alias("n_removed"),
        )
    )
