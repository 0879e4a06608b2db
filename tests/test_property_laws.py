"""Randomized law-parity tests: the frozen normalization/similarity laws
evaluated by Spark over a batch of random strings must equal the pure-
Python reimplementation of the same law (one Spark job per law, not one
per example)."""

from __future__ import annotations

import math
import random
import re

from pyspark.sql import functions as F

from crocodile_spark import ENGLISH_STOPWORDS
from crocodile_spark.functions.normalize import (
    char_ngrams,
    normalize_mention,
    tokenize,
)
from crocodile_spark.functions.similarity import (
    levenshtein_similarity,
    monge_elkan,
    monge_elkan_lev,
    ngram_jaccard,
    token_jaccard,
)

ALPHABET = "ab c_d-e\tf.G'Hé中1 "


def _rand_strings(n: int, seed: int, max_len: int = 24) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(0, max_len)))
        for _ in range(n)
    ]


def _py_tokens(s: str, stop=True) -> set:
    toks = {t for t in re.split(r"[^a-z0-9]+", s.lower()) if t}
    return toks - ENGLISH_STOPWORDS if stop else toks


def _py_ngrams(s: str) -> set:
    return {s[i : i + 3] for i in range(len(s) - 2)}


def _py_jac(a: set, b: set) -> float:
    u = a | b
    return len(a & b) / len(u) if u else 0.0


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_batch_law_parity(spark):
    strs = _rand_strings(300, seed=99)
    pairs = list(zip(strs[::2], strs[1::2]))
    df = spark.createDataFrame(pairs, ["a", "b"]).coalesce(2)
    rows = df.select(
        "a",
        "b",
        normalize_mention("a").alias("norm_a"),
        F.array_sort(tokenize(F.col("a"))).alias("tok_a"),
        F.array_sort(char_ngrams(F.lower(F.col("a")))).alias("ng_a"),
        token_jaccard(tokenize(F.col("a")), tokenize(F.col("b"))).alias("jac"),
        ngram_jaccard(F.lower(F.col("a")), F.lower(F.col("b"))).alias("njac"),
        levenshtein_similarity(F.col("a"), F.col("b")).alias("lev"),
        monge_elkan_lev(
            tokenize(F.col("a"), remove_stopwords=False),
            tokenize(F.col("b"), remove_stopwords=False),
        ).alias("me"),
    ).collect()
    assert len(rows) == 150
    for r in rows:
        a, b = r["a"], r["b"]
        # F1 law
        assert r["norm_a"] == a.strip().replace("_", " ").lower()
        # F4 law (set semantics)
        assert set(r["tok_a"]) == _py_tokens(a)
        # F5 law
        assert set(r["ng_a"]) == _py_ngrams(a.lower())
        # F6 law
        assert math.isclose(r["jac"], _py_jac(_py_tokens(a), _py_tokens(b)), abs_tol=1e-9)
        # F7 law
        assert math.isclose(
            r["njac"], _py_jac(_py_ngrams(a.lower()), _py_ngrams(b.lower())), abs_tol=1e-9
        )
        # edit-similarity law
        mx = max(len(a), len(b))
        exp_lev = 1.0 - _py_lev(a, b) / mx if mx else 1.0
        assert math.isclose(r["lev"], exp_lev, abs_tol=1e-9), (a, b)


def test_monge_elkan_native_matches_python_lev_variant(spark):
    """The native ME-over-levenshtein column must equal the same law in
    Python (reusing the token law)."""

    def py_me_lev(ta, tb):
        if not ta or not tb:
            return 0.0

        def sim(x, y):
            m = max(len(x), len(y))
            return 1.0 - _py_lev(x, y) / m if m else 1.0

        def one(src, dst):
            return sum(max(sim(s, d) for d in dst) for s in src) / len(src)

        return max(one(ta, tb), one(tb, ta))

    strs = _rand_strings(120, seed=5)
    pairs = list(zip(strs[::2], strs[1::2]))
    df = spark.createDataFrame(pairs, ["a", "b"])
    rows = df.select(
        "a",
        "b",
        F.array_sort(tokenize(F.col("a"), remove_stopwords=False)).alias("ta"),
        F.array_sort(tokenize(F.col("b"), remove_stopwords=False)).alias("tb"),
        monge_elkan_lev(
            tokenize(F.col("a"), remove_stopwords=False),
            tokenize(F.col("b"), remove_stopwords=False),
        ).alias("me"),
    ).collect()
    for r in rows:
        exp = py_me_lev(list(r["ta"]), list(r["tb"]))
        assert math.isclose(r["me"], exp, abs_tol=1e-9), (r["a"], r["b"])


def test_monge_elkan_jw_symmetry_and_bounds():
    rng = random.Random(3)
    for _ in range(200):
        ta = [w for w in _rand_strings(rng.randrange(0, 4), rng.randrange(10**6))]
        tb = [w for w in _rand_strings(rng.randrange(0, 4), rng.randrange(10**6))]
        v = monge_elkan(ta, tb)
        assert 0.0 <= v <= 1.0
        assert math.isclose(v, monge_elkan(tb, ta), abs_tol=1e-12)


def test_portable_hash_law_matches_duckdb(spark):
    """The md5-based portable 60-bit hash and the affine minhash slots must
    be bit-identical between Spark and DuckDB on randomized inputs -- this
    is the foundation of the minhash/simhash value oracles."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from crocodile_spark.operators.blocking import (
        minhash_affine_constants,
        portable_hash64,
    )

    rnd = random.Random(99)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _-'\"é中"
    vals = [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    ab = minhash_affine_constants(4)
    base = portable_hash64(F.col("s"), 0)
    hi, lo = F.shiftright(base, 30), base.bitwiseAND(F.lit((1 << 30) - 1))
    got = {
        r["s"]: (r["h"], r["m0"], r["m3"])
        for r in df.select(
            "s",
            base.alias("h"),
            (hi * ab[0][0] + lo * ab[0][1]).alias("m0"),
            (hi * ab[3][0] + lo * ab[3][1]).alias("m3"),
        ).collect()
    }
    con = duckdb.connect()
    lo_mask = (1 << 30) - 1
    for v in vals:
        h, m0, m3 = con.execute(
            "SELECT CAST(('0x' || substr(md5('0:' || ?), 1, 15)) AS BIGINT) AS h,"
            f" (h >> 30) * {ab[0][0]} + (h & {lo_mask}) * {ab[0][1]},"
            f" (h >> 30) * {ab[3][0]} + (h & {lo_mask}) * {ab[3][1]}",
            [v],
        ).fetchone()
        assert got[v] == (h, m0, m3), v


def test_rolling_hash_law_matches_duckdb(spark):
    """Rabin-Karp rolling hash bit-identical between engines on randomized
    unicode strings (incl. empty)."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from crocodile_spark.operators.text_analysis import rolling_hash

    rnd = random.Random(5)
    alphabet = "abcdefghijklmnopqrstuvwxyz 0123456789_-é中\t'"
    vals = [""] + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(1, 60)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", rolling_hash("t").alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            "SELECT CASE WHEN len(?) = 0 THEN 0 ELSE "
            "list_reduce([CAST(unicode(?[i]) AS BIGINT) for i in range(1, len(?)+1)],"
            " (a, b) -> (a*31 + b) % 2147483647) END",
            [v, v, v],
        ).fetchone()[0]
        assert got[v] == want, repr(v)
