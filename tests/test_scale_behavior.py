"""Scale-behavior gates: CC convergence bounds on adversarial graphs and
hot-key handling in blocking."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.operators.blocking import (
    block,
    cap_blocks,
    generate_pairs,
    mention_df_threshold,
)
from crocodile_spark.operators.clustering import connected_components


def test_cc_converges_on_long_chain_within_log_rounds(spark, cc_both_paths):
    """large-star/small-star converges in O(log n) alternations: a
    2000-node path must finish well inside the 20-iteration bound (and the
    driver finish must agree)."""
    n = 2000
    edges = spark.range(n - 1).select(
        F.format_string("n%05d", F.col("id")).alias("u"),
        F.format_string("n%05d", F.col("id") + 1).alias("v"),
    )
    rows = cc_both_paths(
        lambda: sorted(
            map(tuple, connected_components(edges, max_iterations=20).collect())
        )
    )
    assert {cid for _, cid in rows} == {"n00000"}
    assert len(rows) == n


def test_cc_many_components(spark, cc_both_paths):
    """500 disjoint triangles resolve to 500 clusters with min-id roots."""
    base = spark.range(500)
    edges = None
    for a, b in [(0, 1), (1, 2), (0, 2)]:
        e = base.select(
            F.format_string("c%04d_%d", F.col("id"), F.lit(a)).alias("u"),
            F.format_string("c%04d_%d", F.col("id"), F.lit(b)).alias("v"),
        )
        edges = e if edges is None else edges.union(e)
    rows = cc_both_paths(
        lambda: sorted(map(tuple, connected_components(edges).collect()))
    )
    assert len({cid for _, cid in rows}) == 500
    assert len(rows) == 1500
    # every node's root is the _0 member of its own triangle
    assert all(cid == node[: node.rindex("_")] + "_0" for node, cid in rows)


def test_hot_key_dropped_but_pairs_survive_via_other_keys(spark):
    """A key hotter than the block cap is dropped entirely; records
    sharing both the hot key and a rare key still pair via the rare key."""
    cfg = PipelineConfig(max_block_size=8)
    rows = [("hot", f"u{i:03d}") for i in range(50)]
    rows += [("rare", "u001"), ("rare", "u002")]
    keys = spark.createDataFrame(rows, ["key", "url"])
    capped = cap_blocks(keys, cfg.max_block_size)
    assert {r["key"] for r in capped.select("key").distinct().collect()} == {"rare"}
    pairs = {(r["url_a"], r["url_b"]) for r in generate_pairs(capped).collect()}
    assert pairs == {("u001", "u002")}


def test_mention_df_threshold_regimes():
    """The cutoff is RELATIVE at every scale (r5: the r4 min(cap, frac*N)
    clamp emptied scoring signatures at 529k records and cost 1.5 F1
    points; boundedness now lives in sig_max_tokens, not here)."""
    cfg = PipelineConfig(max_block_size=64, mention_df_fraction=0.05, mention_df_floor=3)
    assert mention_df_threshold(cfg, 10) == 3            # floor at tiny corpora
    assert mention_df_threshold(cfg, 240) == 12          # relative regime
    assert mention_df_threshold(cfg, 10_000_000) == 500_000  # NOT clamped by block cap


def test_signature_survives_tokens_hotter_than_block_cap(spark):
    """r5 regression (529k F1 drop): records whose every name token has
    DF > max_block_size but << frac*N must still get non-empty scoring
    signatures -- the block cap only governs BLOCKING keys (cap_blocks),
    never signature membership."""
    from crocodile_spark.operators.blocking import mention_signatures

    n, hot_df = 2000, 70  # cutoff = ceil(0.05*2000) = 100 >= 70 > cap = 64
    rows = []
    for i in range(n):
        tok = "zqxname" if i < hot_df else f"fill{i:05d}"
        rows.append((f"https://h.x/p{i}", [tok, f"uniq{i:05d}"]))
    records = spark.createDataFrame(rows, "url string, tokens array<string>")
    cfg = PipelineConfig(max_block_size=64)
    sigs = mention_signatures(records, cfg)
    hot = sigs.where(F.array_contains("tokens", "zqxname"))
    assert hot.where(F.array_contains("sig_tokens", "zqxname")).count() == hot_df
    assert sigs.where(F.size("sig_tokens") == 0).count() == 0
    # ...but the hot token must NOT reach the blocking shuffle: its DF (70)
    # exceeds max_block_size (64), so cap_blocks would drop the block anyway
    # and every (url, 'tok:zqxname') row would be wasted shuffle at scale
    assert hot.where(F.array_contains("block_tokens", "zqxname")).count() == 0
    # the rare companion token still blocks normally
    assert hot.where(F.array_contains("block_tokens", "uniq00000")).count() == 1


def test_signature_k_rarest_truncation(spark):
    """sig_max_tokens bounds signature width with the RAREST tokens kept
    (deterministic df-then-token order), so width is O(k) at any corpus
    size even though the DF cutoff is relative."""
    from crocodile_spark.operators.blocking import mention_signatures

    # 'common' appears in 5 records, each rare token in 1
    rows = [("u0", ["common"] + [f"r{j}" for j in range(10)])]
    rows += [(f"u{i}", ["common"]) for i in range(1, 5)]
    records = spark.createDataFrame(rows, "url string, tokens array<string>")
    cfg = PipelineConfig(sig_max_tokens=3, mention_df_floor=5)
    sigs = {r["url"]: r["sig_tokens"] for r in mention_signatures(records, cfg).collect()}
    # u0 keeps the 3 rarest (df=1 tokens, token-text tie-break), not 'common' (df=5)
    assert sigs["u0"] == ["r0", "r1", "r2"]
    assert sigs["u1"] == ["common"]


def test_pipeline_handles_pathological_corpus(spark):
    """All-identical texts (one giant dup cluster): quadratic key families
    are capped away, but the exact-dup star path keeps the group linear --
    119 edges, one cluster."""
    rows = [(f"https://h{i % 7}.x/p{i}", "same exact text for everyone") for i in range(120)]
    wp = spark.createDataFrame(rows, "url string, text string").withColumn(
        "lang", F.lit("en")
    )
    from crocodile_spark.pipeline import run_pipeline

    cfg = PipelineConfig(shuffle_partitions=4, max_block_size=16)
    out = run_pipeline(spark, wp, cfg, use_html=False)
    assert out.pairs.count() == 119  # linear, not C(120,2)=7140
    assert out.clusters.count() == 120
    assert out.clusters.select("cluster_id").distinct().count() == 1


def test_el_fuzzy_token_join_hot_token_capped(spark):
    """Verdict r2 #2: a hot KB name token ("grand" in 500 hotel entries)
    must not multiply into the fuzzy join -- the DF cap excludes it from
    the token index, bounding pre-window pair volume, while a rare token
    still retrieves its entries."""
    from crocodile_spark.functions.normalize import normalize_mention, tokenize
    from crocodile_spark.operators.el import fuzzy_token_index, generate_candidates

    cfg = PipelineConfig(fuzzy_token_df_cap=64, candidate_retrieval_limit=16)
    kb_rows = [
        (f"Q{i:04d}", f"grand hotel v{i:04d}", f"a hotel number {i}", 0.1)
        for i in range(500)
    ]
    kb_rows.append(("Q9999", "zanzibar retreat", "a rare name", 0.9))
    kb = spark.createDataFrame(
        kb_rows, "qid string, name string, description string, popularity double"
    )
    kbn = kb.withColumn("name_norm", normalize_mention(F.col("name"))).withColumn(
        "name_tokens", tokenize(F.col("name"), remove_stopwords=False)
    )

    # the capped index contains no hot token: pair volume through the fuzzy
    # join is bounded by df_cap * n_mention_tokens, not |KB|
    idx = fuzzy_token_index(kbn, kb.columns, cfg)
    toks = {r["token"] for r in idx.select("token").distinct().collect()}
    assert "grand" not in toks and "hotel" not in toks
    assert "zanzibar" in toks
    assert idx.count() <= 64 * idx.select("token").distinct().count()

    # end to end (r4, ADVICE fallback): a mention sharing ONLY hot tokens
    # keeps its least-frequent token (bounded by the fallback cap), so it
    # retrieves candidates capped at the retrieval limit instead of zero;
    # a rare-token mention is unaffected
    cells = spark.createDataFrame(
        [("grand hotel unseen",), ("zanzibar lodge",)], ["mention_norm"]
    ).select(
        F.col("mention_norm"),
        F.lit(None).cast("string").alias("gold_qid"),
    )
    cands = generate_candidates(cells, kb, cfg)
    per_mention = {
        r["mention_norm"]: r["n"]
        for r in cands.groupBy("mention_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert 1 <= per_mention.get("grand hotel unseen", 0) <= 16
    assert per_mention.get("zanzibar lodge", 0) >= 1
    q = {r["qid"] for r in cands.where(F.col("mention_norm") == "zanzibar lodge").collect()}
    assert "Q9999" in q

    # below the fallback cap the skew guard still wins: every token hot
    # AND over fuzzy_fallback_df_cap -> zero fuzzy candidates (documented
    # recall trade beyond the bounded fallback)
    cfg_tight = PipelineConfig(
        fuzzy_token_df_cap=64, fuzzy_fallback_df_cap=64, candidate_retrieval_limit=16
    )
    cands_tight = generate_candidates(cells, kb, cfg_tight)
    tight = {
        r["mention_norm"]: r["n"]
        for r in cands_tight.groupBy("mention_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert tight.get("grand hotel unseen", 0) == 0
    assert tight.get("zanzibar lodge", 0) >= 1
