"""Deduplication operators for large-scale training-data pipelines.

Five families, all returning DataFrames (ids/pairs/cluster assignments):

- exact_duplicates:     sha256 hash-groupBy (F3 law)
- minhash_lsh_pairs:    shingle -> MinHash signature -> banded LSH buckets
                        -> in-bucket pair join -> optional exact-Jaccard
                        verification (classic MinHash+LSH)
- simhash_pairs:        64-bit SimHash over token hashes; near-dup when
                        Hamming distance <= k, found via 4-segment blocking
                        (pigeonhole: <=3 differing bits -> one of 4
                        16-bit segments is equal)
- ngram_jaccard_pairs:  char-3-gram Jaccard over blocked pairs
- embedding_pairs:      cosine near-dup over an embedding column via
                        random-hyperplane LSH bucketing

Scale posture: every family is explode -> aggregate/join on a bounded key
(block caps where a key can be hot); no collect-and-loop outside Spark. The
MinHash law and the capped-bucket pair kernel are blocking.py's, shared
with ER blocking. Hashing and set algebra are native expressions, except
the SimHash fingerprint fold: an integer-exact, per-document-bounded
Arrow pandas UDF over the document's token hashes (as 60/64 native
sum(CASE) aggregates it cost ~7 s of Catalyst/Janino planning per query).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crocodile_spark.functions.normalize import char_ngrams, tokenize
from crocodile_spark.functions.similarity import cosine_similarity, set_jaccard
from crocodile_spark.operators.blocking import (
    cap_blocks,
    generate_pairs,
    minhash_band_keys,
    minhash_signature,
    portable_hash64,
    spread,
)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: groups of identical (trimmed, lowercased) texts.

    Returns (text_sha, n_dups, keep_id) for groups with >1 member; the
    deterministic survivor is the minimum id.
    """
    h = F.sha2(F.trim(F.lower(F.col(text_col))), 256)
    return (
        df.select(h.alias("text_sha"), F.col(id_col).alias("id"))
        .groupBy("text_sha")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float | None = 0.7,
    max_bucket_size: int = 256,
    portable: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs, optionally verified.

    Docs sharing any LSH band land in the same bucket; buckets above
    ``max_bucket_size`` are dropped (degenerate content). When
    ``jaccard_threshold`` is set, candidates are verified with the exact
    char-shingle Jaccard and filtered. ``portable=True`` switches both the
    signature and the band hash to the md5-based law so a DuckDB oracle
    can reproduce the pairs bit-for-bit.

    The signature table feeds three consumers (the bucket-size count and
    both sides of the in-bucket self-join), and Spark re-derives a lineage
    per consumer, so it is materialized once with an eager
    ``localCheckpoint`` during this call (num_hashes longs per doc, ~1-2%
    of the text bytes; measured 23 s -> 5.3 s at sf0.1). With a threshold,
    the verified pairs sit behind a lazy ``localCheckpoint`` as well.
    Consequences for the returned frame:

    * its lineage is truncated at those checkpoints, whose blocks live on
      the executors that computed them;
    * a lost executor therefore fails later actions on the frame instead
      of recomputing the lost rows (re-run the call to recover);
    * the checkpointed blocks stay on the executors until the frame is
      garbage-collected; no unpersist handle is returned;
    * with a threshold, the first action materializes the whole
      pre-filter candidate set (two ids and the Jaccard per candidate
      pair), not only the pairs that pass the threshold.

    A checkpointed production run persists stage outputs in the lakehouse
    instead.
    """
    sig = (
        minhash_signature(
            spread(df), id_col, F.lower(F.col(text_col)), num_hashes,
            shingle_size, portable,
        )
        .withColumnRenamed(id_col, "id")
        .localCheckpoint(eager=True)
    )
    keys = minhash_band_keys(sig, "id", num_hashes, band_size, portable)
    pairs = generate_pairs(cap_blocks(keys, max_bucket_size), "id")
    if jaccard_threshold is None:
        return pairs
    grams = spread(df).select(
        F.col(id_col).alias("id"),
        char_ngrams(F.lower(F.col(text_col)), shingle_size).alias("grams"),
    )
    joined = pairs.join(
        grams.withColumnsRenamed({"id": "id_a", "grams": "ga"}), "id_a"
    ).join(grams.withColumnsRenamed({"id": "id_b", "grams": "gb"}), "id_b")
    # the exact-Jaccard verify is array-CPU-heavy but byte-light, so AQE
    # coalesces it onto too few tasks: force pair-key width before computing
    # (explicit partition count -- a bare column repartition is itself
    # AQE-coalescible and collapses back to one task)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored = (
        joined.repartition(n_part, "id_a", "id_b")
        .select(
            "id_a", "id_b", set_jaccard(F.col("ga"), F.col("gb")).alias("jaccard")
        )
        # single-evaluation barrier (r8): a threshold filter directly above
        # the projection is pushed below it, substituting the whole
        # array-intersect expression into the condition -- every candidate
        # pair then pays the set ops TWICE (filter + project). The lazy
        # checkpoint of the 3-scalar-per-pair projection (ids + jaccard,
        # grams already dropped) cuts the plan so the verify runs once;
        # the materialized rows are trivial at any scale relative to the
        # gram arrays the stage already holds.
        .localCheckpoint(eager=False)
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return scored


def _simhash_fold_udf(bits: int):
    """Arrow fingerprint fold: collect_list(token hash) -> simhash long.

    Per bit i, s_i = sum over tokens of +/-1 = 2*popcount_i - n, and the
    fingerprint bit i is set iff s_i > 0 -- all int64 arithmetic, so the
    result is bit-identical to the DuckDB oracle's per-bit sum(CASE)
    replay with no fp-summation caveats. The fold runs in numpy because
    its native form (one sum(CASE) aggregate per bit plus a per-bit
    fingerprint sum) cost ~7 s of Catalyst/Janino planning per query at
    any data size (measured r8, plan=7.1 s vs exec=1.1 s at sf0.1): the
    custom arithmetic is batched in numpy and Spark keeps the
    distribution.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def fold(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        for i, row in enumerate(hs):
            h = np.asarray(row, dtype=np.int64).view(np.uint64)
            # bit i of h survives (h >> i) & 1 under arithmetic or logical
            # shift alike, so uint64 shifting matches the JVM law exactly
            cnt = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            mask = (2 * cnt) > len(h)  # s_i = 2*c_i - n > 0
            fp = (mask.astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[i] = fp.astype(np.int64)  # bit 63 wraps to -(1<<63) (JVM long)
        return pd.Series(out)

    return fold


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over the document's tokens: (id, simhash).

    Each token contributes its hash bit pattern; the fingerprint bit i is
    1 when more tokens have bit i set than unset. ``portable=True`` uses
    the md5 60-bit hash law (callers should pass bits=60 with it) so a
    DuckDB oracle can reproduce fingerprints exactly.

    Tokens are hashed in the JVM (xxhash64, or the portable law) and
    gathered per document with collect_list; the per-bit fold is an Arrow
    pandas UDF (:func:`_simhash_fold_udf`), integer-exact. The aggregation
    state is the document's own token hashes, bounded by the document's
    size, which already travels the pipeline.
    """
    tok_hash = (
        portable_hash64(F.col("tok"), 0) if portable else F.xxhash64("tok")
    )
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).withColumn("h", tok_hash)
    hs = toks.groupBy("id").agg(F.collect_list("h").alias("_hs"))
    return hs.select("id", _simhash_fold_udf(bits)(F.col("_hs")).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: 4-segment pigeonhole blocking + exact
    Hamming verification (<= max_hamming, which must be <= 3 for 4
    segments to guarantee recall). Fingerprints are materialized with an
    eager ``localCheckpoint`` for the same three-consumer reason as
    minhash_lsh_pairs, with the same consequences for the returned frame."""
    bits = 60 if portable else 64
    seg_bits = bits // 4
    fp = simhash(df, text_col, id_col, bits=bits, portable=portable).localCheckpoint(
        eager=True
    )
    segs = F.array(
        *[
            F.concat(
                F.lit(f"seg{s}:"),
                F.shiftright(F.col("simhash"), s * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1))
                .cast("string"),
            )
            for s in range(4)
        ]
    )
    buckets = fp.select("id", "simhash", F.explode(segs).alias("bucket"))
    capped = cap_blocks(buckets, max_bucket_size, key="bucket")
    pairs = generate_pairs(capped, "id", key="bucket", carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Char-n-gram Jaccard near-dup pairs within explicit blocks.

    The scored pairs sit behind a lazy ``localCheckpoint``, a
    single-evaluation barrier that keeps the threshold filter from
    re-running the set algebra. For the returned frame this means:

    * its lineage is truncated at that checkpoint, whose blocks live on
      the executors that computed them;
    * a lost executor therefore fails later actions on the frame instead
      of recomputing the lost rows (re-run the call to recover);
    * the checkpointed blocks stay on the executors until the frame is
      garbage-collected; no unpersist handle is returned;
    * the first action materializes the whole pre-filter candidate set
      (two ids and the Jaccard for every same-block pair), not only the
      pairs that pass the threshold.
    """
    d = spread(df).select(
        F.col(id_col).alias("id"),
        *block_cols,
        char_ngrams(F.lower(F.col(text_col)), n).alias("grams"),
    )
    a = d.select(F.col("id").alias("id_a"), *block_cols, F.col("grams").alias("ga"))
    b = d.select(F.col("id").alias("id_b"), *block_cols, F.col("grams").alias("gb"))
    return (
        a.join(b, block_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", set_jaccard(F.col("ga"), F.col("gb")).alias("jaccard")
        )
        # single-evaluation barrier: see minhash_lsh_pairs
        .localCheckpoint(eager=False)
        .where(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 4,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket_size: int = 1024,
    arrow: bool | str = True,
) -> DataFrame:
    """Embedding-cosine near-dup via banded random-hyperplane LSH.

    OR-construction: docs are candidates when their sign patterns agree on
    all ``num_planes`` hyperplanes of AT LEAST ONE of ``num_tables``
    independent tables; exact cosine verifies within buckets. A single
    AND-construction of many planes has vanishing recall (at cosine 0.95 a
    16-plane table catches only ~19% of true pairs); 4 tables x 4 planes
    gives ~0.98 theoretical recall at the same threshold (gated by
    tests/test_dedup.py). Buckets for every table come from one projection
    + one explode; ids only travel through the bucket join, vectors are
    re-joined after the pair dedup.
    """
    from crocodile_spark.operators.similarity_search import (
        embedding_dim,
        hyperplane_table_buckets,
        hyperplane_table_buckets_udf,
    )

    dim = embedding_dim(df, emb_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    if arrow:
        buckets = hyperplane_table_buckets_udf(
            dim, num_planes, num_tables, seed, exact=(arrow == "exact")
        )(F.col(emb_col))
    else:
        buckets = hyperplane_table_buckets(emb_col, dim, num_planes, num_tables, seed)
    # (id, bucket) feeds the size count + both self-join sides: materialize
    # so the hyperplane projection (the Arrow UDF) runs once, not 3x
    b = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.explode(buckets).alias("bucket"))
        .localCheckpoint(eager=True)
    )
    capped = cap_blocks(b, max_bucket_size, key="bucket")
    pairs = generate_pairs(capped, "id", key="bucket")
    v = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("v"))
    if arrow:
        # bit-exact Arrow fold twin of the HOF cosine (emb_kernels): same
        # values, so the threshold filter admits the identical pair set
        from crocodile_spark.functions.emb_kernels import cosine_fold

        cos = cosine_fold(F.col("va"), F.col("vb"))
    else:
        cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        pairs.join(v.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(v.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def dedup_keep_first(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a deduplicated corpus: treat near-dup pairs as edges,
    cluster transitively (large-star/small-star CC), keep the minimum id
    per cluster."""
    from crocodile_spark.operators.clustering import connected_components

    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    assign = connected_components(edges)
    drop = assign.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
