"""Dedup operator tests: planted duplicates must be found, non-duplicates
must not."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.operators.dedup import (
    dedup_keep_first,
    embedding_near_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "an entirely different document about spark dataframes and shuffles"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # dup of 0
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
        (4, "completely unrelated text regarding molecular biology experiments"),
        (5, "An Entirely Different Document About Spark DataFrames and Shuffles"),  # case-dup of 1
    ]
    return spark.createDataFrame(base, ["doc_id", "text"]).cache()


def test_exact_duplicates(spark, docs):
    got = exact_duplicates(docs).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in got}
    assert groups == {0: 2, 1: 2}  # (0,2) and case-insensitive (1,5)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] >= 0.5
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_simhash_properties(spark, docs):
    fp = {r["id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[2]          # identical text -> identical fingerprint
    assert fp[1] == fp[5]          # tokenization is case-insensitive
    assert fp[0] != fp[1]


def test_simhash_pairs(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs).collect()}
    assert got.get((0, 2)) == 0
    assert got.get((1, 5)) == 0
    assert (0, 4) not in got


def test_simhash_hamming_tracks_similarity(spark):
    """With a long doc, a one-token change moves few bits; unrelated text
    moves many."""
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok59", "tok99")
    other = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], ["doc_id", "text"]
    )
    fp = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])
    assert ham(fp[0], fp[1]) <= 10


def test_simhash_matches_python_fold_of_token_hashes(spark, docs):
    """The Arrow fold equals a pure-Python fold of the same token hashes
    (bit i set iff more than half the tokens set it), under both hash
    laws. Single-token documents make the fingerprint the token hash
    itself, so bit 63 (the sign of the JVM long) is exercised."""
    from crocodile_spark.functions.normalize import tokenize
    from crocodile_spark.operators.blocking import portable_hash64

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    short = spark.createDataFrame(
        [(100 + i, w) for i, w in enumerate(words)], ["doc_id", "text"]
    )
    df = docs.unionByName(short)
    toks = df.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))

    def fold(hs, bits):
        fp = 0
        for i in range(bits):
            if 2 * sum((h >> i) & 1 for h in hs) > len(hs):
                fp |= 1 << i
        return fp - (1 << 64) if fp >> 63 else fp

    got = {}
    for bits, portable, law in (
        (64, False, F.xxhash64("tok")),
        (60, True, portable_hash64(F.col("tok"), 0)),
    ):
        hashes = {}
        for r in toks.select("doc_id", law.alias("h")).collect():
            hashes.setdefault(r["doc_id"], []).append(r["h"] & ((1 << 64) - 1))
        fps = simhash(df, "text", "doc_id", bits=bits, portable=portable)
        got[bits] = {r["id"]: r["simhash"] for r in fps.collect()}
        assert got[bits] == {i: fold(hs, bits) for i, hs in hashes.items()}
    assert any(v < 0 for v in got[64].values()), "no fingerprint sets bit 63"


def test_ngram_jaccard_pairs(spark, docs):
    d = docs.withColumn("block", F.lit("b"))
    got = {
        (r["id_a"], r["id_b"]) for r in
        ngram_jaccard_pairs(d, ["block"], threshold=0.8).collect()
    }
    assert (0, 2) in got and (0, 3) in got and (1, 4) not in got


def test_dedup_keep_first(spark, docs):
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    kept = dedup_keep_first(docs, pairs)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # cluster {0,2,3} -> keep 0; {1,5} -> keep 1; singleton 4 stays
    assert ids == {0, 1, 4}


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]) for r in
        embedding_near_dup_pairs(df, threshold=0.95, num_planes=4).collect()
    }
    assert (0, 1) in got
    assert all(p in {(0, 1)} for p in got)


def test_embedding_near_dup_recall_vs_brute_force(spark):
    """Recall gate: banded LSH (OR over tables) must recover >= 0.9 of the
    true cosine>=0.95 pairs that a single AND-construction would miss ~80%
    of. Deterministic planted near-dups at a ~18-degree max angle."""
    import math
    import random

    rnd = random.Random(7)
    dim = 16
    rows = []
    vid = 0
    for base in range(40):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((vid, v)); vid += 1
        # planted near-dup: small deterministic perturbation
        w = [x + 0.12 * rnd.gauss(0, 1) / math.sqrt(dim) for x in v]
        rows.append((vid, w)); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from crocodile_spark.operators.similarity_search import brute_force_topk

    exact_pairs = {
        (r["query_id"], r["cand_id"])
        for r in brute_force_topk(
            df.select(F.col("vec_id").alias("query_id"), "embedding"),
            df.select(F.col("vec_id").alias("cand_id"), "embedding"),
            k=len(rows),
        ).where((F.col("cosine") >= 0.95) & (F.col("query_id") < F.col("cand_id"))).collect()
    }
    assert len(exact_pairs) >= 30  # the fixture really plants near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert not got - exact_pairs  # exact-cosine verify: zero false positives
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"banded-LSH recall {recall:.2f}"
