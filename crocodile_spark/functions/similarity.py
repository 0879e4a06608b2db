"""Similarity algebra (SURVEY.md section 2.3 F6/F7 + in-engine replacements
for the reference's KB-provided features, section 2.4 X1).

- token_jaccard        <- reference crocodile/feature.py:75-78 (empty union -> 0.0)
- ngram_jaccard        <- reference crocodile/feature.py:80-85
- levenshtein_similarity: in-engine ``ed_score`` replacement (the reference
  received ed_score from LamAPI; SURVEY X1 maps it to
  1 - levenshtein/maxlen)
- jaro_winkler_udf: Arrow pandas UDF (numpy-free pure-python inner loop over
  batch) -- the north_star's preferred edit-similarity; kept OFF the default
  hot path (levenshtein is JVM-native) and available as a feature column.
- cosine_similarity: embedding cosine over array<float|double> columns,
  native F.aggregate/zip_with (no UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crocodile_spark.functions.normalize import char_ngrams


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_jaccard(a: Column | str, b: Column | str) -> Column:
    """F6: |A n B| / |A u B| over two array<string> columns; 0.0 on empty
    union (the reference's guard at feature.py:78)."""
    a, b = _col(a), _col(b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def set_jaccard(a: Column | str, b: Column | str) -> Column:
    """token_jaccard specialization for arrays that are DISTINCT by
    construction (tokenize / char_ngrams / collect_set outputs): the union
    size is computed arithmetically as |A| + |B| - |A intersect B| instead
    of building a second hash set per row with ``array_union`` (r8: the
    exact-Jaccard verify over MinHash candidates dropped 2.8 s -> 0.9 s at
    sf0.1). Identical values and null/empty law: Spark's array_intersect
    returns the distinct intersection, so for distinct inputs the identity
    is exact. A null array scores 0.0 in either ANSI mode: the explicit
    null guard matters with ANSI off, where legacy ``size(NULL)`` is -1
    and the arithmetic union would give -1/|B|.
    Callers whose arrays may contain duplicates must use token_jaccard."""
    a, b = _col(a), _col(b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return (
        F.when(a.isNull() | b.isNull(), F.lit(0.0))
        .when(union > 0, inter / union)
        .otherwise(F.lit(0.0))
    )


def ngram_jaccard(a: Column | str, b: Column | str, n: int = 3) -> Column:
    """F7: Jaccard over distinct char n-grams of two *strings*.

    char_ngrams outputs are distinct by construction, so the set_jaccard
    size-arithmetic union applies (one set op per pair instead of two)."""
    return set_jaccard(char_ngrams(_col(a), n), char_ngrams(_col(b), n))


def levenshtein_similarity(a: Column | str, b: Column | str) -> Column:
    """ed_score replacement: 1 - levenshtein(a,b) / max(len(a), len(b)).

    JVM-native (whole-stage codegen); 1.0 when both strings empty.
    """
    a, b = _col(a).cast("string"), _col(b).cast("string")
    mx = F.greatest(F.length(a), F.length(b)).cast("double")
    return F.when(mx > 0, 1.0 - F.levenshtein(a, b).cast("double") / mx).otherwise(
        F.lit(1.0)
    )


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_dist = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(
    s1: str, s2: str, p: float = 0.1, max_prefix: int = 4, boost_threshold: float = 0.7
) -> float:
    """Pure-python Jaro-Winkler, canonical Winkler definition: the common-
    prefix bonus applies only when the Jaro similarity exceeds the boost
    threshold (0.7 in Winkler's published form). r6: the threshold was
    previously omitted; adding it matches both the textbook definition and
    DuckDB's jaro_winkler_similarity bit-for-bit (5k-case fuzz; the ONLY
    residual divergence is ('','') where DuckDB returns 0.0 and this
    returns 1.0 -- identical strings are a certain match in ER, so oracle
    SQL guards that case with a CASE WHEN)."""
    j = _jaro(s1, s2)
    if j <= boost_threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler over two string columns."""
    return pd.Series(
        [
            jaro_winkler(x if isinstance(x, str) else "", y if isinstance(y, str) else "")
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


def monge_elkan(tokens_a, tokens_b) -> float:
    """Symmetric Monge-Elkan over Jaro-Winkler: mean over tokens of one set
    of the best JW match in the other, symmetrized by max of both
    directions. The token-level analog of the reference's fuzzy candidate
    retry (T5, crocodile/processors.py:177-202): robust to one-char typos
    and token reordering where whole-string edit distance is not."""
    ta = [] if tokens_a is None else [t for t in tokens_a if t]
    tb = [] if tokens_b is None else [t for t in tokens_b if t]
    if not ta or not tb:
        return 0.0

    def one_way(src, dst):
        return sum(max(jaro_winkler(s, d) for d in dst) for s in src) / len(src)

    return max(one_way(ta, tb), one_way(tb, ta))


def monge_elkan_lev(a: Column | str, b: Column | str) -> Column:
    """Native Monge-Elkan over Levenshtein similarity: for each token of
    one set, the best edit-similarity match in the other, averaged;
    symmetrized by max of both directions. 0.0 when either side is empty.

    100% JVM expressions (nested higher-order functions around the native
    ``levenshtein``): no Python in the hot path, unlike the Jaro-Winkler
    variant. Token arrays are small (mention signatures), so the
    |A| x |B| inner loop is cheap and codegen-friendly.

    r8: the |A| x |B| similarity matrix is built ONCE and both directions
    read it -- lev_sim is exactly symmetric (levenshtein and greatest of
    lengths both are), so one_way(b, a)'s inner maxima are the COLUMN
    maxima of the same matrix. The previous form evaluated every
    levenshtein twice (once per direction); values are bit-identical
    (same element order in both direction sums: row maxes summed in a's
    order, column maxes in b's order, exactly as before).
    """
    a, b = _col(a), _col(b)

    def lev_sim(x: Column, y: Column) -> Column:
        mx = F.greatest(F.length(x), F.length(y)).cast("double")
        return F.when(
            mx > 0, 1.0 - F.levenshtein(x, y).cast("double") / mx
        ).otherwise(F.lit(1.0))

    # M[i][j] = lev_sim(a[i], b[j]), evaluated once per pair
    m = F.transform(a, lambda s: F.transform(b, lambda d: lev_sim(s, d)))
    # direction a->b: mean over rows of the row max
    ab = (
        F.aggregate(m, F.lit(0.0), lambda acc, row: acc + F.array_max(row))
        / F.size(a)
    )
    # direction b->a: mean over columns of the column max (elementwise
    # running max across rows; lev_sim >= 0 so the zero init is neutral)
    colmax = F.aggregate(
        m,
        F.transform(b, lambda _: F.lit(0.0)),
        lambda acc, row: F.zip_with(acc, row, lambda x, y: F.greatest(x, y)),
    )
    ba = (
        F.aggregate(colmax, F.lit(0.0), lambda acc, x: acc + x) / F.size(b)
    )
    both = F.greatest(ab, ba)
    return F.when((F.size(a) > 0) & (F.size(b) > 0), both).otherwise(F.lit(0.0))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine over two array<numeric> columns -- native expressions only.

    dot / (||a|| * ||b||); 0.0 when either norm is 0. Cast to double first
    so float32 embeddings accumulate in double.
    """
    a = F.transform(_col(a), lambda x: x.cast("double"))
    b = F.transform(_col(b), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
