"""Blocking stage tests: block cap, key families, stored key format, pair
generation determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.operators.blocking import (
    block,
    cap_blocks,
    generate_pairs,
    minhash_signature,
    static_keys,
)
from crocodile_spark.operators.normalize_stage import normalize_pages


def test_cap_blocks_drops_oversized(spark):
    rows = [("hot", f"u{i}") for i in range(10)] + [("cold", "a"), ("cold", "b")]
    keys = spark.createDataFrame(rows, ["key", "url"])
    got = cap_blocks(keys, 4).select("key").distinct().collect()
    assert {r["key"] for r in got} == {"cold"}
    # any key column name; a block of exactly the cap survives
    buckets = keys.withColumnRenamed("key", "bucket")
    got = cap_blocks(buckets, 10, key="bucket").select("bucket").distinct()
    assert {r["bucket"] for r in got.collect()} == {"hot", "cold"}


def test_generate_pairs_orientation_and_dedup(spark):
    keys = spark.createDataFrame(
        [("k", "b"), ("k", "a"), ("k", "c"), ("j", "a"), ("j", "b")],
        ["key", "url"],
    )
    pairs = generate_pairs(keys).collect()
    got = {(r["url_a"], r["url_b"]) for r in pairs}
    # a<b ordering, (a,b) appears once despite two shared keys
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    # carried columns travel with their id on both sides, under any id and
    # key column names, and the pair is still emitted once
    buckets = spark.createDataFrame(
        [("k", 2, 20), ("k", 1, 10), ("j", 1, 10), ("j", 2, 20), ("j", 3, 30)],
        ["bucket", "id", "fp"],
    )
    got = generate_pairs(buckets, "id", key="bucket", carry=("fp",))
    assert got.columns == ["id_a", "id_b", "fp_a", "fp_b"]
    assert sorted(map(tuple, got.collect())) == [
        (1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)
    ]


def test_minhash_identical_strings_share_signature(spark):
    df = spark.createDataFrame(
        [(0, "same text here"), (1, "same text here"), (2, "other wording entirely")],
        ["id", "text"],
    )
    for portable in (False, True):
        sig = minhash_signature(df, "id", F.col("text"), 8, portable=portable)
        assert sig.columns == ["id"] + [f"mh{i}" for i in range(8)]
        rows = {r["id"]: tuple(r)[1:] for r in sig.collect()}
        assert rows[0] == rows[1]
        assert rows[0] != rows[2]


def test_static_keys_strings_are_pinned(spark):
    """static_keys rows are stored resolution state (streaming snapshots,
    incremental_er's existing_static_keys): a change to the host or MinHash
    band-key format would silently stop stored keys from matching fresh
    ones, while the batch and incremental paths still agreed with each
    other. The exact strings for one fixed record are therefore golden."""
    sigs = spark.createDataFrame(
        [("https://example.org/wiki/Ada_Lovelace", "example.org",
          "ada lovelace english mathematician")],
        "url string, host string, text_norm string",
    )
    got = sorted(r["key"] for r in static_keys(sigs, PipelineConfig()).collect())
    assert got == [
        "host:example.org",
        "mh0:-6715260754182340876",
        "mh1:4882372235208560776",
        "mh2:71982898039932864",
        "mh3:643042797260442611",
    ]


def test_block_stage_recall_on_corpus(spark, corpus_dfs):
    """Every same-entity page pair should share at least one block key
    (recall of the blocking stage on the planted clusters)."""
    wp, _, gold = corpus_dfs
    cfg = PipelineConfig(shuffle_partitions=4)
    records = normalize_pages(wp, use_html=True)
    sigs, pairs = block(records, cfg)
    pos = gold.where(F.col("label") == 1)
    covered = pos.join(pairs, ["url_a", "url_b"], "left_semi").count()
    total = pos.count()
    assert covered / total > 0.95, f"blocking recall {covered}/{total}"


# ---- spread() width guard (r4 hardening: VERDICT #7 / ADVICE r3) ----------


def test_spread_derived_frame_untouched_without_jobs(spark, tmp_path):
    """A shuffle-bearing (derived) frame must be returned AS-IS without
    triggering any Spark job: under AQE, probing its width would execute
    the upstream stages twice."""
    from crocodile_spark.operators.blocking import spread

    df = (
        spark.range(0, 10000, 1, 4)
        .selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    spark.sparkContext.setJobGroup("spread-probe", "spread must not run jobs")
    try:
        out = spread(df)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("spread-probe")
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert out is df, "derived frame must be returned untouched"
    assert list(jobs) == [], f"spread() ran jobs on a derived frame: {jobs}"


def test_spread_not_fooled_by_operator_like_column_name(spark, tmp_path):
    """The old substring heuristic skipped the guard when a COLUMN was
    named like an operator ('sort_Distinct'); the node-type walk must
    still widen such a scan."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "wide.parquet")
    spark.range(0, 50000, 1, 32).selectExpr(
        "id", "repeat('x', 64) AS payload"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p).select(
        F.col("id").alias("sort_Distinct"), "payload"
    )
    assert scan.rdd.getNumPartitions() == 1
    out = spread(scan)
    assert out.rdd.getNumPartitions() > 1, "scan with operator-like column name not widened"


def test_spread_tiny_scan_and_escape_hatch(spark, tmp_path):
    """Frames below the byte floor stay narrow (no mostly-empty tasks);
    spark.croco.spread.enabled=false disables the guard entirely."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "tiny.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert spread(tiny) is tiny, "tiny scan must not be repartitioned"

    big = str(tmp_path / "big.parquet")
    spark.range(0, 50000, 1, 1).selectExpr(
        "id", "repeat('y', 64) AS payload"
    ).write.parquet(big)
    scan = spark.read.parquet(big)
    spark.conf.set("spark.croco.spread.enabled", "false")
    try:
        assert spread(scan) is scan, "escape hatch must disable the guard"
    finally:
        spark.conf.unset("spark.croco.spread.enabled")
    assert spread(scan).rdd.getNumPartitions() > 1


def test_spread_downstream_heavy_overrides_byte_floor(spark, tmp_path):
    """ADVICE r4: callers feeding super-linear plans (crossJoin sweeps)
    declare downstream_heavy=True -- a sub-64KiB single-partition scan is
    exactly where quadratic work would serialize on one core, so the byte
    floor must NOT apply there."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "tiny2.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert spread(tiny) is tiny  # floor applies on the default path
    assert spread(tiny, downstream_heavy=True).rdd.getNumPartitions() > 1


def test_token_rich_records_keep_recall_under_sig_truncation(spark):
    """ADVICE r5/r6 (blocking.py block_tokens law): block_tokens is now
    budgeted by block_max_tokens over ALL block-eligible distinctive
    tokens, decoupled from the sig_max_tokens signature slice. Pin BOTH
    halves: (1) entity tokens displaced from the k=4 signature slice by
    df=1 fillers STILL emit tok: keys (the old eligible-subset-of-k-rarest
    law dropped them), and (2) same-entity pair recall is 1.0 via the
    tok: family itself -- hosts and filler texts differ per page, so
    neither the host nor the MinHash family can compensate here."""
    rows = []
    for e in range(3):
        ent = f"ent{e}a ent{e}b ent{e}c"  # df=3 each, distinctive (cutoff 3)
        for p in range(3):
            fillers = " ".join(f"u{e}{p}f{j}" for j in range(10))  # df=1 each
            rows.append(
                # DIFFERENT host per page: the host family cannot pair them
                (f"http://h{e}x{p}.example.com/p{p}", f"{ent} {fillers}")
            )
    wp = spark.createDataFrame(rows, ["url", "text"])
    cfg = PipelineConfig(sig_max_tokens=4, shuffle_partitions=4)
    records = normalize_pages(wp, use_html=False)
    sigs, pairs = block(records, cfg)

    sig_rows = sigs.select("url", "sig_tokens", "block_tokens").collect()
    for r in sig_rows:
        # the signature slice still truncates at k=4 (df=1 fillers win)...
        assert len(r["sig_tokens"]) == cfg.sig_max_tokens
        assert all(t.startswith("u") for t in r["sig_tokens"]), r
        # ...but block_tokens keeps every eligible token incl. the shared
        # entity tokens (13 eligible < block_max_tokens budget)
        assert len(r["block_tokens"]) == 13, r
        assert sum(t.startswith("ent") for t in r["block_tokens"]) == 3, r
    # recall: every same-entity pair shares a tok: block -- the ONLY
    # family that can produce these pairs on this fixture
    from itertools import combinations

    want = {
        tuple(sorted(p))
        for e in range(3)
        for p in combinations(
            [f"http://h{e}x{p}.example.com/p{p}" for p in range(3)], 2
        )
    }
    got = {
        (r["url_a"], r["url_b"])
        for r in pairs.collect()
    }
    assert want <= got, want - got
    # and the budget really truncates: past block_max_tokens eligible
    # tokens the rarest win
    tight = PipelineConfig(
        sig_max_tokens=4, block_max_tokens=5, shuffle_partitions=4
    )
    sigs2, _ = block(records, tight)
    for r in sigs2.select("block_tokens").collect():
        assert len(r["block_tokens"]) == 5
