"""Stage 2 -- capped multi-key blocking (SURVEY.md section 7.1 step 3).

Replaces the reference's LamAPI candidate retrieval (crocodile/fetchers.py:
51-121, operator S6) with self-contained blocking: candidate *pairs* are
records sharing at least one blocking key, where the key families are

  tok:<token>       distinctive (rare) normalized tokens -- the analog of
                    crocodile's mention-keyed candidate join (J5,
                    crocodile/processors.py:186-200): records sharing a
                    normalized mention share a candidate set;
  host:<host>       URL host (web-specific signal);
  mh<i>:<band>      MinHash LSH bands over char-3-gram shingles (F5 law).

Exact duplicates (F3 row hash law, crocodile/processors.py:112) are not a
key family: hash groups emit linear min-url star edges (exact_dup_pairs),
immune to block caps and quadratic blowup.

Scale design (10^12-doc posture):
  * token document frequency and block sizes are single hash aggregations
    -- map-side partial counts make COUNT skew-immune (a reducer receives
    at most one partial row per map task per key), so no salting is needed;
  * every key family is capped at ``max_block_size`` members -- an
    oversized block both explodes pair count quadratically and marks a
    non-discriminative key (a token with DF > cap cannot identify an
    entity), so it is dropped, mirroring stopword removal at a corpus level;
  * pair generation is a self-equi-join on the capped key, repartitioned by
    key, with ``url_a < url_b`` and a distinct on the pair -- AQE skew-join
    splits any residual imbalance.

The MinHash law (:func:`minhash_signature`, :func:`minhash_band_keys`) and
the capped-bucket pair kernel (:func:`cap_blocks`, :func:`generate_pairs`)
live here once; the dedup near-dup finders and ``lsh_topk`` call them too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.functions.normalize import char_ngrams


def key_count(df: DataFrame, key: str) -> DataFrame:
    """Per-key count; partial aggregation makes this skew-immune."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))


def portable_hash64(col, seed: int):
    """Portable 60-bit hash, identical in Spark and DuckDB:

      Spark : conv(substr(md5('<seed>:' || x), 1, 15), 16, 10)::long
      DuckDB: CAST(('0x' || substr(md5('<seed>:' || x), 1, 15)) AS BIGINT)

    Non-negative (< 2^60), so shift/mask/bit ops are sign-safe. The
    xxhash64 fast path stays the production default; this exists so the
    DuckDB oracles can verify the ACTUAL minhash/simhash pairs instead of
    a rows-only count.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def minhash_affine_constants(num_hashes: int, seed: int = 1234) -> list[tuple[int, int]]:
    """Seeded odd (A_i, B_i) < 2^29 pairs for the portable minhash family
    h_i = hi*A_i + lo*B_i; shared with the DuckDB oracle generator."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29) | 1, rng.randrange(1, 1 << 29) | 1)
        for _ in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text,
    num_hashes: int,
    shingle_size: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The MinHash signature law: (``id_col``, mh0..mh<num_hashes-1>) over
    the distinct char-``shingle_size``-grams of the ``text`` expression.

    Shingles are exploded once and each of the k hash slots is a plain
    ``min`` aggregate (map-side partial aggregation applies), so the plan
    carries k tiny expressions instead of k inlined copies of the shingle
    generator -- the inlined form falls out of whole-stage codegen under
    ``explode`` and goes quadratic in interpreted mode. A record without
    shingles gets no row.

    Hash law: xxhash64 with per-slot integer seeds, or with
    ``portable=True`` one md5 per shingle and k affine derivations
    (:func:`portable_hash64`, :func:`minhash_affine_constants`), which the
    DuckDB oracles replay bit for bit.
    """
    sh = df.select(
        F.col(id_col), F.explode(char_ngrams(text, shingle_size)).alias("sh")
    )
    if portable:
        # ONE md5 per shingle, then k affine derivations (hi*A_i + lo*B_i
        # over the 30-bit halves, < 2^60 so no overflow under ANSI) --
        # k md5 calls per shingle would dominate the whole query.
        # r8: hi/lo are materialized as COLUMNS in a projection before the
        # aggregation -- as inline expressions inside the k min() aggregates
        # each slot re-derived the md5+conv base (no cross-aggregate
        # subexpression elimination: 2k md5 evaluations per shingle,
        # measured 3.3 s -> 1.3 s for the signature aggregation at sf0.1).
        base = portable_hash64(F.col("sh"), 0)
        sh = sh.select(
            id_col,
            F.shiftright(base, 30).alias("_hi"),
            base.bitwiseAND(F.lit((1 << 30) - 1)).alias("_lo"),
        )
        ab = minhash_affine_constants(num_hashes)
        hashes = [F.col("_hi") * a + F.col("_lo") * b for a, b in ab]
    else:
        hashes = [F.xxhash64("sh", F.lit(i)) for i in range(num_hashes)]
    return sh.groupBy(id_col).agg(
        *[F.min(h).alias(f"mh{i}") for i, h in enumerate(hashes)]
    )


def minhash_band_keys(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
    portable: bool = False,
) -> DataFrame:
    """LSH band keys as (``id_col``, key) rows, one per band:
    ``mh<b>:<hash>``, the hash taken over the band's slots cast to string
    and joined with ``_`` -- xxhash64 as a decimal string, or with
    ``portable=True`` the first 16 hex digits of md5 (the oracle law).

    The xxhash64 strings are stored resolution state (:func:`static_keys`
    persists them), so their format must not change."""

    def band_hash(joined):
        if portable:
            return F.substring(F.md5(joined), 1, 16)
        return F.xxhash64(joined).cast("string")

    bands = [
        F.concat(
            F.lit(f"mh{b}:"),
            band_hash(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                )
            ),
        )
        for b in range(num_hashes // band_size)
    ]
    return sig.select(id_col, F.explode(F.array(*bands)).alias("key"))


def mention_df_threshold(cfg: PipelineConfig, n_records: int) -> int:
    """Distinctive-token DF cutoff: the RELATIVE law max(floor, ceil(frac*N)).

    Deliberately not clamped by ``max_block_size`` (the r4 law): at 529k
    synthetic records the clamp dropped 2-syllable name tokens (DF ~ 70 >
    64) from SCORING signatures, same-entity similarity collapsed, and
    pairwise F1 fell to 0.9844. The two concerns the clamp conflated are
    each guarded where they belong: quadratic pair blowup by ``cap_blocks``
    (oversized tok: blocks never reach the pair join) and signature width
    by the per-record ``sig_max_tokens``-rarest truncation in
    ``mention_signatures``. This cutoff only removes corpus-level stopwords
    (tokens in more than frac of all records), which carry no entity signal
    at any scale."""
    import math

    rel = math.ceil(cfg.mention_df_fraction * n_records)
    return max(cfg.mention_df_floor, rel)


def token_document_frequencies(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(token, df) for every token passing the length floor -- the ONE
    corpus-level aggregate the signature law depends on. Exposed so an
    incremental resolution can persist it with the resolution state and
    merge delta counts instead of re-aggregating the union
    (incremental_er.incremental_signatures); the batch path and the state
    builder MUST share this aggregation or the merge law drifts. tokens
    arrays are distinct per record (F4 set semantics), so the count is a
    true document frequency."""
    tok = (
        records.select("url", F.explode("tokens").alias("token"))
        .where(F.length("token") >= cfg.min_token_length)
    )
    return key_count(tok, "token").select("token", F.col("count").alias("df"))


def distinctive_tokens(
    records: DataFrame, cfg: PipelineConfig, n_records: int | None = None
) -> DataFrame:
    """(url, token, df) rows for tokens with document frequency <= threshold.

    DF-capping is the corpus-level generalization of stopword removal:
    frequent tokens carry no entity signal and only widen blocks. The
    count is the stage's one driver-side scalar (a metric, not data).
    The df column lets the caller rank tokens by rarity.
    """
    if n_records is None:
        n_records = records.count()
    cutoff = mention_df_threshold(cfg, n_records)
    tok = (
        records.select("url", F.explode("tokens").alias("token"))
        .where(F.length("token") >= cfg.min_token_length)
    )
    rare = token_document_frequencies(records, cfg).where(F.col("df") <= cutoff)
    return tok.join(rare, "token", "inner").select("url", "token", "df")


def mention_signatures(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-record mention signature: the ``sig_max_tokens`` RAREST
    distinctive tokens (sorted) + mention_norm.

    This is the engine's analog of crocodile's normalized mention (F1 law,
    crocodile/processors.py:134): the string key under which candidate sets
    are shared (J5). Records with no distinctive token get an empty
    signature (left join keeps them).

    The k-rarest truncation is what bounds signature width at web scale
    (the DF cutoff is relative, so it admits tokens with DF up to frac*N):
    rows are collected as (df, token) structs, array_sort orders them
    rarest-first with a deterministic token tie-break, slice keeps k, and
    the final array_sort restores the canonical token ordering the scoring
    features (token_jaccard, mention_norm concat) expect. One aggregation,
    no window shuffle; per-record state is bounded by the record's own
    token count.

    ``block_tokens`` (computed in the same aggregation -- zero extra
    shuffle) is what the ``tok:`` blocking-key family keys on: the
    ``block_max_tokens`` RAREST among all block-eligible distinctive
    tokens (df <= max_block_size). The budget is DECOUPLED from
    ``sig_max_tokens`` (ADVICE r5/r6): under the old eligible-subset-of-
    k-rarest law, a shared token outranked by k unshared rarer tokens on
    BOTH records silently lost the pair unless host/MinHash compensated.
    At 10^12 docs the df pre-filter still keeps unboundedly hot keys out
    of the shuffle (a DF-10^9 token would shuffle 10^9 (url, key) rows
    only to be capped), deliberately slightly CONSERVATIVE vs cap_blocks,
    which caps on block MEMBERSHIP. Scoring still sees the full
    ``sig_tokens`` (the 529k F1 lesson: the block cap must never silence
    scoring evidence)."""
    return signatures_from_distinctive(records, distinctive_tokens(records, cfg), cfg)


def signatures_from_distinctive(
    records: DataFrame, dist: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """The signature aggregation law over prepared (url, token, df) rows.

    Factored out of :func:`mention_signatures` so the incremental path
    (incremental_er.incremental_signatures) applies the IDENTICAL law to
    its rebuild-scoped distinctive rows -- byte-identical signatures are
    the equivalence contract between the two paths."""
    sig = (
        dist.groupBy("url")
        .agg(
            F.array_sort(F.collect_set(F.struct("df", "token"))).alias("_by_rarity")
        )
        .select(
            "url",
            F.array_sort(
                F.transform(
                    F.slice("_by_rarity", 1, cfg.sig_max_tokens),
                    lambda s: s["token"],
                )
            ).alias("sig_tokens"),
            F.array_sort(
                F.transform(
                    F.slice(
                        F.filter(
                            "_by_rarity",
                            lambda s: s["df"] <= F.lit(cfg.max_block_size),
                        ),
                        1,
                        cfg.block_max_tokens,
                    ),
                    lambda s: s["token"],
                )
            ).alias("block_tokens"),
        )
    )
    empty = F.array().cast("array<string>")
    return (
        records.join(sig, "url", "left")
        .withColumn("sig_tokens", F.coalesce(F.col("sig_tokens"), empty))
        .withColumn("block_tokens", F.coalesce(F.col("block_tokens"), empty))
        .withColumn("mention_norm", F.concat_ws(" ", F.col("sig_tokens")))
    )


def token_keys(sigs: DataFrame) -> DataFrame:
    """The corpus-DF-dependent key family: ``tok:`` keys from
    ``block_tokens`` (cap-eligible distinctive tokens). This is the only
    family whose keys change as the corpus grows (document frequencies
    move under the relative cutoff) -- incremental resolution must
    recompute it over the union, while :func:`static_keys` can be stored."""
    return sigs.select(
        "url",
        F.explode(
            F.transform(F.col("block_tokens"), lambda t: F.concat(F.lit("tok:"), t))
        ).alias("key"),
    )


def static_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-record STATIC key families: host + MinHash bands. Neither
    depends on any corpus-level statistic, so a record's static keys never
    change once computed -- an incremental resolution stores them with the
    resolution state and computes them only for the delta (the MinHash
    shingling pass is the dominant linear cost of the blocking stage)."""
    host = sigs.where(
        F.col("host").isNotNull() & (F.length("host") > 0)
    ).select("url", F.concat(F.lit("host:"), F.col("host")).alias("key"))
    k = cfg.minhash_num_hashes
    sig = minhash_signature(sigs, "url", F.col("text_norm"), k, cfg.shingle_size)
    return host.union(minhash_band_keys(sig, "url", k, cfg.minhash_band_size))


def blocking_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Union of the four key families as (url, key) rows."""
    # each family emits unique (url, key) rows by construction (block_tokens
    # is a set; host is one row; band index is in the key prefix), so no
    # dedup shuffle is needed here. Exact-duplicate groups (F3 row hash)
    # are NOT a key family: they are handled linearly by exact_dup_pairs.
    return token_keys(sigs).union(static_keys(sigs, cfg))


def cap_blocks(keys: DataFrame, cap: int, key: str = "key") -> DataFrame:
    """Drop blocks whose member count (rows per ``key``) exceeds ``cap``:
    an oversized block explodes pair count quadratically and marks a
    non-discriminative key."""
    ok = key_count(keys, key).where(F.col("count") <= cap).select(key)
    return keys.join(ok, key, "inner")


def generate_pairs(
    capped: DataFrame,
    id_col: str = "url",
    key: str = "key",
    carry: tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """Self-join per key -> distinct unordered candidate pairs
    (``<id_col>_a``, ``<id_col>_b``, then ``<c>_a``, ``<c>_b`` for each
    ``carry`` column).

    The equi-join itself hash-partitions both sides by key (no explicit
    repartition needed); ``<id>_a < <id>_b`` halves the cross product and
    fixes pair orientation (deterministic output); the final distinct
    collapses pairs that co-occur under several keys (callers that union
    further pair sources pass distinct=False and dedup once at the end).
    Carried columns must be functions of the id, or the distinct keeps
    one row per distinct carried value.
    """
    cols = (id_col, *carry)

    def side(s):
        return capped.select(key, *[F.col(c).alias(f"{c}_{s}") for c in cols])

    pairs = (
        side("a")
        .join(side("b"), key, "inner")
        .where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(*[f"{c}_{s}" for c in cols for s in "ab"])
    )
    return pairs.distinct() if distinct else pairs


def exact_dup_pairs(records: DataFrame) -> DataFrame:
    """Exact-duplicate pairs via the F3 row hash -- LINEAR star edges.

    Identical texts are certain matches: enumerating their C(n,2) pairs is
    quadratic waste and a block cap would wrongly drop giant duplicate
    groups (the web is full of them). Instead each hash group emits
    (min url -> member) star edges: n-1 edges, transitively equivalent
    under connected components.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("row_hash")
    m = records.select("row_hash", "url").withColumn("root", F.min("url").over(w))
    return m.where(F.col("url") != F.col("root")).select(
        F.col("root").alias("url_a"), F.col("url").alias("url_b")
    )


def pairs_from_signatures(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Candidate pairs from a signature table (carries url/host/row_hash/
    text_norm/sig_tokens): capped key blocks + linear exact-dup stars,
    deduplicated once."""
    capped = cap_blocks(blocking_keys(sigs, cfg), cfg.max_block_size)
    pairs = generate_pairs(capped, distinct=False)
    return pairs.union(exact_dup_pairs(sigs)).dropDuplicates(["url_a", "url_b"])


def block(records: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Full stage 2: returns (signatures, candidate_pairs)."""
    sigs = mention_signatures(records, cfg)
    return sigs, pairs_from_signatures(sigs, cfg)


# logical-plan node names that imply the frame's width already comes from a
# shuffle (Distinct rewrites to Aggregate in the optimized plan but is kept
# for safety); Repartition*/Rebalance* are matched by prefix below
_SHUFFLE_NODE_NAMES = frozenset(
    {"Join", "Aggregate", "Window", "Sort", "Distinct", "Deduplicate",
     "DeduplicateWithinWatermark", "Intersect", "Except"}
)


def _plan_probe(df: DataFrame) -> tuple[bool, int]:
    """(has_shuffle_node, estimated_size_bytes) from the OPTIMIZED logical
    plan, walked node-by-node via ``nodeName()`` -- never substring-matched
    against the plan string (a column literally named "sort_Distinct" must
    not trip the guard, ADVICE r3) and never executed. Uses the JVM plan
    handle (`_jdf`), which is not public API: any drift raises and the
    caller falls back to returning the frame untouched."""
    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [plan]
    try:
        # scalar subqueries survive optimization as EXPRESSIONS (IN/EXISTS
        # are rewritten to joins), so a shuffle can hide outside children();
        # subqueriesAll() exposes every subquery plan in the tree
        sq = plan.subqueriesAll()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
    except Exception:
        pass  # older API: children-only walk still covers rewritten plans
    found = False
    while stack and not found:
        node = stack.pop()
        name = node.nodeName()
        if name in _SHUFFLE_NODE_NAMES or name.startswith(
            ("Repartition", "Rebalance")
        ):
            found = True
            break
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    size = int(str(plan.stats().sizeInBytes()))
    return found, size


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    downstream_heavy: bool = False,
) -> DataFrame:
    """Width guard for per-row-heavy stages (hash signatures, HOF dot
    products, array Jaccard, Arrow UDF projections): a single-file local
    scan arrives as 1 partition and AQE coalesces small-BYTES/heavy-CPU
    shuffle outputs to 1 task, serializing the expensive expression on one
    core. Repartition up to the session's parallelism when narrower. At
    production scale inputs are already wide (many files / many shuffle
    partitions with real bytes), so this is a no-op there.

    Inputs whose plan already contains a shuffle-producing operator are
    returned untouched WITHOUT inspecting partitions: under AQE,
    ``df.rdd`` finalizes the adaptive plan by actually executing upstream
    query stages, so probing the width of a derived frame would run its
    joins/aggregations twice. Those frames got their width from the
    shuffle anyway; only scan-shaped inputs need the guard.

    r4 hardening (VERDICT #7 / ADVICE): the probe walks plan node TYPES
    (no substring matching), ``spark.croco.spread.enabled=false`` disables
    the guard entirely, frames whose estimated plan size is below
    ``spark.croco.spread.minBytes`` (default 64 KiB; unknown sizes pass)
    are left alone, and the repartition target is capped by the cluster's
    defaultParallelism so a 200-partition shuffle default cannot fan a
    tiny scan into mostly-empty tasks.

    r5 (ADVICE r4): the byte floor reasons about INPUT size, but for
    super-linear downstream work (a crossJoin sweep: O(rows_left x
    rows_right) cosines) a sub-64KiB single-partition scan is exactly
    where quadratic work serializes on one core. Callers feeding such
    plans pass ``downstream_heavy=True`` to skip the floor -- the caller,
    not the input bytes, knows the downstream cost shape. The
    ``spark.croco.spread.minBytes=0`` escape hatch remains for config-only
    control."""
    sess = df.sparkSession
    if str(sess.conf.get("spark.croco.spread.enabled", "true")).lower() != "true":
        return df
    try:
        has_shuffle, size_bytes = _plan_probe(df)
    except Exception:
        return df  # benign fallback: private-API drift must not break callers
    if has_shuffle:
        return df
    min_bytes = int(sess.conf.get("spark.croco.spread.minBytes", "65536"))
    if not downstream_heavy and 0 <= size_bytes < min_bytes:
        return df
    target = min_partitions or min(
        int(sess.conf.get("spark.sql.shuffle.partitions")),
        sess.sparkContext.defaultParallelism,
    )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
