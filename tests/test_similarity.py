"""Similarity algebra unit tests (F6/F7 laws at reference
crocodile/feature.py:75-85 -- empty union -> 0.0; edit-distance and cosine
replacements per SURVEY.md X1)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crocodile_spark.functions.similarity import (
    cosine_similarity,
    jaro_winkler,
    levenshtein_similarity,
    ngram_jaccard,
    set_jaccard,
    token_jaccard,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_token_jaccard(spark):
    a = F.array(F.lit("a"), F.lit("b"), F.lit("c"))
    b = F.array(F.lit("b"), F.lit("c"), F.lit("d"))
    assert abs(_one(spark, token_jaccard(a, b)) - 0.5) < 1e-12
    assert _one(spark, token_jaccard(a, a)) == 1.0


def test_token_jaccard_empty_union_is_zero(spark):
    e = F.array().cast("array<string>")
    assert _one(spark, token_jaccard(e, e)) == 0.0


def test_set_jaccard_null_array_is_zero_with_ansi_off(spark):
    """With ANSI off, legacy size(NULL) = -1: the arithmetic union must not
    turn a NULL array into -1/|B|. Same values as with ANSI on."""
    df = spark.createDataFrame(
        [(None, ["a", "b"]), (["a", "b"], None), (None, None), (["a"], ["a", "b"])],
        "a array<string>, b array<string>",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = [r["j"] for r in df.select(set_jaccard("a", "b").alias("j")).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == [0.0, 0.0, 0.0, 0.5]


def test_ngram_jaccard(spark):
    # ngrams('abcd')={abc,bcd}; ngrams('abcde')={abc,bcd,cde}; J=2/3
    got = _one(spark, ngram_jaccard(F.lit("abcd"), F.lit("abcde")))
    assert abs(got - 2 / 3) < 1e-12
    # both shorter than n -> empty sets -> 0.0 (reference feature.py:85 law)
    assert _one(spark, ngram_jaccard(F.lit("ab"), F.lit("cd"))) == 0.0


def test_levenshtein_similarity(spark):
    got = _one(spark, levenshtein_similarity(F.lit("kitten"), F.lit("sitting")))
    assert abs(got - (1 - 3 / 7)) < 1e-12
    assert _one(spark, levenshtein_similarity(F.lit(""), F.lit(""))) == 1.0
    assert _one(spark, levenshtein_similarity(F.lit("abc"), F.lit(""))) == 0.0


def test_jaro_winkler_reference_values():
    # published textbook values
    assert abs(jaro_winkler("MARTHA", "MARHTA") - 0.9611) < 1e-3
    assert abs(jaro_winkler("DWAYNE", "DUANE") - 0.8400) < 1e-3
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([("MARTHA", "MARHTA"), ("", "")], ["a", "b"])
    from crocodile_spark.functions.similarity import jaro_winkler_udf

    got = [r["v"] for r in df.select(jaro_winkler_udf("a", "b").alias("v")).collect()]
    assert abs(got[0] - 0.9611) < 1e-3
    assert got[1] == 1.0  # equal (empty) strings


def test_cosine_similarity(spark):
    a = F.array(F.lit(1.0), F.lit(0.0))
    b = F.array(F.lit(0.0), F.lit(1.0))
    c = F.array(F.lit(3.0), F.lit(4.0))
    assert _one(spark, cosine_similarity(a, b)) == 0.0
    assert abs(_one(spark, cosine_similarity(c, c)) - 1.0) < 1e-12
    got = _one(spark, cosine_similarity(a, c))
    assert abs(got - 3 / 5) < 1e-12
    z = F.array(F.lit(0.0), F.lit(0.0))
    assert _one(spark, cosine_similarity(a, z)) == 0.0

def test_cosine_fold_kernel_bit_exact_vs_hof(spark):
    """r8: the Arrow fold kernel (emb_kernels.cosine_fold) must be
    BIT-IDENTICAL to the interpreted HOF law on every input class --
    clean vectors (float32 and float64), null arrays, zero norms, width
    mismatches (NULL law), and NaN poisoning (NaN law, reconstructed
    natively from the isnan flag because pandas->Arrow maps NaN to null).
    """
    import math
    import random

    from crocodile_spark.functions.emb_kernels import cosine_fold

    rng = random.Random(7)
    rows = []
    for i in range(800):
        d = rng.choice([1, 2, 16, 64])
        a = [rng.uniform(-5, 5) for _ in range(d)]
        b = [rng.uniform(-5, 5) for _ in range(d)]
        k = rng.random()
        if k < 0.05:
            a = None
        elif k < 0.10:
            b = [0.0] * d
        elif k < 0.15:
            b = a[: max(1, d // 2)] if d > 1 else a + [1.0]
        elif k < 0.20:
            a = [float("nan")] + a[1:]
        elif k < 0.25:
            a = [0.0] * d
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = df.select(
        cosine_fold(F.col("a"), F.col("b")).alias("k"),
        cosine_similarity(F.col("a"), F.col("b")).alias("h"),
    ).collect()

    def same(x, y):
        if x is None or y is None:
            return x is None and y is None
        return x == y or (math.isnan(x) and math.isnan(y))

    assert all(same(r["k"], r["h"]) for r in got)

    # float32 embeddings (the parquet layout) hit the matrix fast path
    rows32 = [
        ([rng.uniform(-2, 2) for _ in range(64)],
         [rng.uniform(-2, 2) for _ in range(64)])
        for _ in range(200)
    ]
    df32 = spark.createDataFrame(rows32, "a array<float>, b array<float>")
    got32 = df32.select(
        cosine_fold(F.col("a"), F.col("b")).alias("k"),
        cosine_similarity(F.col("a"), F.col("b")).alias("h"),
    ).collect()
    assert all(r["k"] == r["h"] for r in got32)
