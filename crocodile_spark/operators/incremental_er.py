"""Incremental entity resolution: resolve a DELTA of new web pages against
an already-clustered corpus without re-scoring the corpus.

At 10^12 documents a full re-run per crawl batch is not an option: the
quadratic stages (pair generation, scoring) must touch only pairs that
involve at least one NEW record, and clustering must not rebuild the
whole component graph. This module provides exactly that asymmetry:

- **normalize**: only the delta is normalized (row-local, linear in delta).
- **signatures**: with stored token-DF state (``existing_token_df`` +
  ``existing_n_records`` + ``existing_signatures``), document frequencies
  are MERGED (a vocab-scale outer join of the stored (token, df) table
  with delta counts) instead of re-aggregated over the union, and
  signatures are rebuilt ONLY for the delta plus the old records holding a
  token whose distinctive/rank status changed under the new counts (a
  narrow ``arrays_overlap`` scan -- no full-union explode, no corpus-wide
  groupBy). Byte-identical to the full recompute by the classification
  law in :func:`incremental_signatures`. Without state, falls back to
  recomputing over the union (linear, the r5 behavior).
- **pairs**: an asymmetric key join -- capped blocking keys of NEW records
  against capped keys of ALL records -- yields exactly the pairs touching
  the delta. Old-old pairs are never generated (they were scored when the
  old corpus was resolved). Exact-duplicate stars are restricted to hash
  groups containing a new record.
- **scoring**: identical law to the batch stage (same features, same
  scorer) over the delta-touching pairs only.
- **clustering**: connected components over the NEW accepted edges with
  every existing cluster CONTRACTED to its root node. Because the batch
  convention is cluster_id = min member url, the contracted node IS the
  min of its members, so min-propagation over the contracted graph yields
  the same roots as batch CC over the full edge set (old edges union new
  edges): CC(E_old + E_new) == expand(CC(contract(CC(E_old)) + E_new)).
  CC cost is O(|delta edges|), independent of corpus size; untouched old
  clusters never enter the loop.

Equivalence caveat (documented, tested): the corpus-relative DF cutoff can
make a token distinctive in the union that was not distinctive in the old
corpus alone, so a full batch re-run may generate an old-old candidate
pair the incremental path deliberately skips. On corpora whose token-DF
profile is stable under growth (the realistic crawl case, and the test
fixtures) the cluster partitions are identical.

Reference parity: crocodile's backend processes tables incrementally --
new rows are queued and resolved against the existing cache/cell state
(backend/app/services/result_sync.py, crocodile/crocodile.py ML_TABLE
update loop); this operator is the Spark-native, set-at-a-time form.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.operators.blocking import (
    blocking_keys,
    cap_blocks,
    exact_dup_pairs,
    mention_df_threshold,
    mention_signatures,
    signatures_from_distinctive,
    static_keys,
    token_document_frequencies,
    token_keys,
)
from crocodile_spark.operators.clustering import connected_components
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.scoring import score


@dataclass
class IncrementalOutput:
    delta_records: DataFrame  # normalized new records
    pairs: DataFrame          # delta-touching candidate pairs only
    scored: DataFrame         # scored delta-touching pairs
    clusters: DataFrame       # FULL updated assignment (url, cluster_id)
    signatures: DataFrame | None = None  # union signature table (persisted)
    stage_stats: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release the frames :func:`incremental_er` persisted (delta,
        signatures). Lifetime contract (ADVICE r5): the persists live
        until the caller either calls this or stops the session -- a
        long-lived session invoking the operator repeatedly (gate +
        bench in one SparkSession) must call it after the clusters frame
        is materialized, or cached union-signature blocks accumulate
        across invocations. ``pairs``/``scored`` are localCheckpointed
        (r6, plan-depth control), so unpersist() is a no-op on them;
        their blocks are freed by the ContextCleaner once the output
        object is garbage-collected."""
        frames = [self.delta_records, self.signatures, self.pairs, self.scored]
        # state-path aux frames (incremental_signatures persists the
        # affected-url set + rebuilt slice and rides them on the union)
        frames.extend(getattr(self.signatures, "_inc_persisted", ()))
        for df in frames:
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def broadcast_if_small(
    df: DataFrame, col: str, n_rows: int, cfg: PipelineConfig
) -> DataFrame:
    """Byte-budget broadcast gate (ADVICE r6): a row count says nothing
    about bytes -- urls can run hundreds of characters, and a forced
    broadcast past the driver's budget OOMs where the shuffle join would
    merely be slower. Estimate ``rows x (2 x avg strlen + 48B row
    overhead)`` with the average sampled from the first 10k rows (the
    frames gated here are checkpointed/cached, so the probe is a cheap
    cache scan) and force the broadcast only under
    ``cfg.broadcast_bytes_cap``."""
    if n_rows <= 0:
        return F.broadcast(df)
    if n_rows * 48.0 > cfg.broadcast_bytes_cap:
        return df  # over budget at zero-length strings: skip the probe
    row = df.limit(10_000).select(F.avg(F.length(F.col(col))).alias("l")).first()
    est = n_rows * (2.0 * float(row["l"] or 0.0) + 48.0)
    return F.broadcast(df) if est <= cfg.broadcast_bytes_cap else df


def incremental_signatures(
    existing_records: DataFrame,
    existing_signatures: DataFrame,
    existing_token_df: DataFrame,
    existing_n_records: int,
    delta: DataFrame,
    n_delta: int,
    cfg: PipelineConfig,
    changed_collect_cap: int = 20_000,
    removed_records: DataFrame | None = None,
    n_removed: int = 0,
) -> DataFrame | None:
    """Union signature table from stored state, byte-identical to
    ``mention_signatures(old union delta)`` -- without touching the old
    corpus beyond two narrow scans.

    The signature law depends on corpus state ONLY through (token -> df)
    and the relative cutoff c(N). Merging delta counts into the stored DF
    table (vocab-scale outer join) reproduces the union's (token, df)
    exactly. Document frequencies only GROW (the delta adds documents),
    which makes the set of old records whose signature can change exactly
    classifiable -- and far smaller than "holders of any df-changed
    token" (the r6-draft law, which collapsed to full recompute on
    realistic corpora where every touched entity's name tokens change
    df):

      * FLIP tokens -- signature-membership or block-eligibility changed:
        ``df_old <= c_old`` differs from ``df_new <= c_new`` (got hot in
        the delta, or the growing cutoff newly admits it), or df crossed
        ``max_block_size`` while distinctive. Every holder rebuilds.
        Under a stable DF profile these are tokens near the two
        boundaries -- a small set, collected driver-side (bounded by
        ``changed_collect_cap``, fallback to full recompute past it) and
        applied as a broadcast semi join against the old records'
        exploded tokens (a broadcast bloom filter at 10^12 docs). The
        collect exists ONLY for the cap/fallback decision -- the
        membership test is a hash probe, never an N-element expression
        literal in the plan.
      * RANK tokens -- distinctive on both sides, df changed, no flip.
        Because df never decreases, such a token can only move LATER in
        the (df, token) rarity order: it can fall OUT of a kept set but
        never enter one. So it affects exactly the records where a
        k-rarest truncation is active (stored ``size(sig_tokens) == k``
        for the signature budget, ``size(block_tokens) ==
        block_max_tokens`` for the decoupled blocking budget) AND the
        token is currently IN that kept set. Those records are found by
        a JOIN of the stored signatures' exploded kept sets against the
        rank-token set -- no driver collect, no literal, and
        on corpora where few records exceed k distinctive tokens the
        affected set is ~empty even when millions of dfs moved.

    Tokens absent from the old corpus only affect delta records, which
    are rebuilt unconditionally. Everything else keeps its stored
    signature verbatim.

    Removals (r7, the re-crawl upsert path): ``removed_records`` are rows
    LEAVING the corpus (the old versions of updated urls). Their token
    counts are SUBTRACTED in the DF merge, they are dropped from the kept
    side, and -- because a df decrease breaks the monotone-rank argument
    above (a rarer token can now ENTER a k-rarest kept set, which the
    stored truncated signature cannot reveal) -- every token whose df
    decreased while distinctive on either side is conservatively
    classified as a FLIP (all holders rebuild). Decreases only come from
    removed records' tokens, so the extra rebuild set is bounded by
    |removed| x tokens/record x holders-of-those-tokens -- delta-scale
    for re-crawl updates, where the holders of a removed record's
    distinctive tokens are mostly its own entity's other pages.
    """
    c_old = mention_df_threshold(cfg, existing_n_records)
    c_new = mention_df_threshold(
        cfg, existing_n_records - n_removed + n_delta
    )
    B = cfg.max_block_size
    delta_df = token_document_frequencies(delta, cfg)
    merged = existing_token_df.select("token", F.col("df").alias("df_old")).join(
        delta_df.select("token", F.col("df").alias("df_delta")),
        "token",
        "full_outer",
    )
    if removed_records is not None:
        removed_df = token_document_frequencies(removed_records, cfg)
        merged = merged.join(
            removed_df.select("token", F.col("df").alias("df_removed")),
            "token",
            "full_outer",
        )
    else:
        merged = merged.withColumn("df_removed", F.lit(None).cast("long"))
    merged = merged.select(
        "token",
        (
            F.coalesce("df_old", F.lit(0))
            + F.coalesce("df_delta", F.lit(0))
            - F.coalesce("df_removed", F.lit(0))
        ).alias("df"),
        "df_old",
    ).where(F.col("df") > 0)
    old_distinct = F.col("df_old") <= F.lit(c_old)
    new_distinct = F.col("df") <= F.lit(c_new)
    base_changed = merged.where(
        F.col("df_old").isNotNull()
        & (old_distinct | new_distinct)
        & (
            (old_distinct != new_distinct)
            | (F.col("df") != F.col("df_old"))
        )
    )
    block_flip = (F.col("df_old") <= F.lit(B)) != (F.col("df") <= F.lit(B))
    # df decreases (removals) break the grow-only rank law: conservative
    # flip classification for any decreased distinctive token
    decreased = F.col("df") < F.col("df_old")
    is_flip = (old_distinct != new_distinct) | block_flip | decreased
    flips = base_changed.where(is_flip).select("token")
    ranks = base_changed.where(~is_flip).select("token")

    flip_rows = [r["token"] for r in flips.limit(changed_collect_cap + 1).collect()]
    if len(flip_rows) > changed_collect_cap:
        return None
    # Broadcast semi join, NOT an up-to-20k-element F.array literal +
    # per-row arrays_overlap: the literal form embeds the flip set in the
    # expression tree (the plan-size pathology this file already fought
    # twice) and costs O(|tokens| x |flips|) per old record; the exploded
    # hash probe is O(|tokens|) and swaps cleanly for a bloom filter at
    # 10^12 records.
    flip_df = flips.sparkSession.createDataFrame(
        [(t,) for t in flip_rows], "token string"
    )
    flip_urls = (
        existing_records.select("url", F.explode("tokens").alias("token"))
        .join(F.broadcast(flip_df), "token", "semi")
        .select("url")
    )
    # A rank token affects a record only where a k-rarest truncation is
    # ACTIVE and the token currently sits in the kept set (df only grows,
    # so it can fall OUT but never enter). sig_tokens and block_tokens are
    # truncated under separate budgets since block_max_tokens was
    # decoupled (ADVICE r5/r6), so both kept sets are probed.
    rank_urls = (
        existing_signatures.where(
            F.size("sig_tokens") >= F.lit(cfg.sig_max_tokens)
        )
        .select("url", F.explode("sig_tokens").alias("token"))
        .join(ranks, "token", "semi")
        .select("url")
        .union(
            existing_signatures.where(
                F.size("block_tokens") >= F.lit(cfg.block_max_tokens)
            )
            .select("url", F.explode("block_tokens").alias("token"))
            .join(ranks, "token", "semi")
            .select("url")
        )
    )
    affected_urls = flip_urls.union(rank_urls).distinct()
    if removed_records is not None:
        # removed urls leave the kept side entirely; they are NOT in the
        # rebuild union (existing_records is the survivor base)
        affected_urls = affected_urls.union(
            removed_records.select("url")
        ).distinct()
    affected_urls = affected_urls.persist()
    affected_urls.count()
    affected_old = existing_records.select(*delta.columns).join(
        affected_urls, "url", "semi"
    )
    rebuild = affected_old.unionByName(delta)
    tok = rebuild.select("url", F.explode("tokens").alias("token")).where(
        F.length("token") >= cfg.min_token_length
    )
    rare = merged.where(F.col("df") <= F.lit(c_new)).select("token", "df")
    dist = tok.join(rare, "token", "inner").select("url", "token", "df")
    rebuilt = signatures_from_distinctive(rebuild, dist, cfg).persist()
    rebuilt.count()

    sig_cols = rebuilt.columns
    kept = existing_signatures.select(*sig_cols).join(
        affected_urls, "url", "left_anti"
    )
    # Only the DELTA-SCALE pieces are materialized (affected_urls: a tiny
    # url set; rebuilt: delta + affected rows). The union is returned
    # LAZY: every downstream consumer then re-derives it as (cached
    # stored-signature scan, broadcast anti-join on affected_urls) plus a
    # cached rebuilt scan -- re-materializing all N union rows into a new
    # cache block (the r6-draft behavior) cost ~22 s at 529k for data
    # that already sits in the stored cache. The persisted pieces ride on
    # the returned frame for IncrementalOutput.unpersist().
    out = kept.unionByName(rebuilt)
    out._inc_persisted = (affected_urls, rebuilt)
    return out


def delta_pairs(
    sigs: DataFrame,
    new_urls: DataFrame,
    cfg: PipelineConfig,
    existing_static_keys: DataFrame | None = None,
    seed_urls: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs touching at least one new record.

    Asymmetric generation: the left side of the key equi-join is restricted
    to keys of NEW records (semi join -- no data widening), the right side
    is all capped keys. new-new pairs appear in both orientations and
    new-old pairs in one; least/greatest + dropDuplicates canonicalizes.
    The join is delta_keys x block members, so work is
    O(|delta| * avg_block_size), not O(corpus^2).

    With ``existing_static_keys`` (the stored (url, key) host+MinHash rows
    of the already-resolved records), the MinHash shingling pass runs over
    the DELTA only; the corpus-DF-dependent ``tok:`` family is still
    recomputed over the union (a token-level aggregate, linear but far
    cheaper than shingling). The resulting key set is BYTE-IDENTICAL to
    the full recompute -- static keys are per-record constants -- so pair
    generation and the final partition are unchanged.

    ``seed_urls`` (r7, the re-crawl upsert path) decouples the two roles
    ``new_urls`` plays: ``new_urls`` stays "records with no stored static
    keys" (fresh shingling), while the SEED -- which urls' keys anchor
    pair generation, the delta-held-key restriction, and the dup-star
    scope -- widens to ``seed_urls``. Old records whose signature was
    rebuilt (or whose cluster was dissolved) then re-enter pairing with
    their STORED static keys, no re-shingling. Default (None) keeps the
    original law: seed == new_urls.
    """
    seed = new_urls if seed_urls is None else seed_urls
    if existing_static_keys is None:
        keys = blocking_keys(sigs, cfg)
    else:
        delta_sigs = sigs.join(new_urls, "url", "semi")
        delta_static = static_keys(delta_sigs, cfg)
        keys = (
            token_keys(sigs)
            .union(existing_static_keys.select("url", "key"))
            .union(delta_static)
        )
        # Restrict the key universe to DELTA-HELD keys before capping.
        # Equivalent law: a pair requires a key held by a new record
        # (new_keys below), and the semi join keeps every member row of
        # each kept key, so per-key cap counts are identical -- the only
        # rows dropped belong to keys that could never produce a pair.
        # The cap groupBy then shuffles members of delta-held keys
        # (pair-fraction scale) instead of the full O(N x keys/record)
        # universe. The delta key set is delta-scale and broadcasts.
        # (An r6-draft A/B under heavy host noise was inconclusive; the
        # quiet per-phase probes showed the unrestricted cap shuffle at
        # ~15 s of a 40 s pairs stage at 529k/5% -- see BENCH.md r6.)
        # localCheckpoint (eager): the key list is delta-scale, but its
        # PLAN embeds the MinHash band-key expression forest; the cap and
        # pair joins below replicate their input subtree 4x during
        # planning, and with the un-truncated delta_keys tree inside, the
        # duplicated expression forest OOMed the driver while merely
        # FORMATTING the plan string. Checkpointing collapses it to a
        # scan leaf (the same trick clustering.py uses per CC round).
        if seed_urls is None:
            seed_sigs, seed_static = delta_sigs, delta_static
        else:
            seed_sigs = sigs.join(seed, "url", "semi")
            # seeds that are old records pair through their STORED static
            # keys; only content-new urls (new_urls) were re-shingled
            seed_static = delta_static.union(
                existing_static_keys.select("url", "key").join(
                    seed, "url", "semi"
                )
            )
        delta_keys = (
            token_keys(seed_sigs)
            .select("key")
            .union(seed_static.select("key"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Broadcast the (checkpointed, already-materialized) key set when
        # it is hash-table-sized: the semi join then FILTERS the key
        # universe during the scan with no shuffle at all, which is the
        # whole point -- a sort-merge semi would shuffle the full
        # O(N x keys/record) universe once more and cost more than the
        # cap shuffle it saves (measured: pairs stage 40 s unrestricted
        # vs 96 s restricted-SMJ at 529k/5%). Past the byte gate (huge
        # deltas), fall back to the shuffle semi, where the cap saving
        # still applies. count() on the checkpointed frame is metadata
        # cheap.
        delta_keys = broadcast_if_small(delta_keys, "key", delta_keys.count(), cfg)
        keys = keys.join(delta_keys, "key", "semi")
    capped = cap_blocks(keys, cfg.max_block_size)
    new_keys = capped.join(seed, "url", "semi")
    cand = (
        new_keys.select(F.col("url").alias("u1"), "key")
        .join(capped.select(F.col("url").alias("u2"), "key"), "key")
        .where(F.col("u1") != F.col("u2"))
        .select(
            F.least("u1", "u2").alias("url_a"),
            F.greatest("u1", "u2").alias("url_b"),
        )
    )
    # exact-duplicate stars, restricted to hash groups that gained a member
    # AND to edges touching a new record: old-old members of such a group
    # are already connected in the existing clusters (exact dups force
    # is_edge in the batch run), so re-emitting their edges is pure waste
    # and would break the no-old-old-pair contract
    delta_hashes = (
        sigs.join(seed, "url", "semi").select("row_hash").distinct()
    )
    dup = exact_dup_pairs(sigs.join(delta_hashes, "row_hash", "semi"))
    dup = (
        dup.join(seed.withColumnRenamed("url", "url_a"), "url_a", "semi")
        .select("url_a", "url_b")
        .union(
            dup.join(
                seed.withColumnRenamed("url", "url_b"), "url_b", "semi"
            ).select("url_a", "url_b")
        )
    )
    return cand.union(dup).dropDuplicates(["url_a", "url_b"])


def merge_clusters(
    existing_clusters: DataFrame,
    new_urls: DataFrame,
    new_edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Updated (url, cluster_id) for old + new records.

    Contract: each edge endpoint is replaced by its representative -- the
    existing cluster root for old records, the url itself for new ones.
    Self-loops after contraction (both endpoints already in one cluster)
    drop out in CC's canonicalization. The contracted graph has one node
    per TOUCHED old cluster plus the connected new records; everything
    else is carried over unchanged by the left joins below.
    """
    # Filter the representative table to edge ENDPOINTS before the rep
    # joins: a right-side row whose url appears in no edge never matches,
    # so the left-join results are identical, but the two joins move the
    # endpoint subset (delta-edge scale) instead of shuffling the full
    # (url, cluster_id) assignment twice -- at 529k/5% those two corpus
    # shuffles dominated the merge stage.
    endpoints = (
        new_edges.select(F.col("url_a").alias("url"))
        .union(new_edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    touched_reps = existing_clusters.join(endpoints, "url", "semi")
    rep_a = touched_reps.select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("rep_a")
    )
    rep_b = touched_reps.select(
        F.col("url").alias("url_b"), F.col("cluster_id").alias("rep_b")
    )
    contracted = (
        new_edges.join(rep_a, "url_a", "left")
        .join(rep_b, "url_b", "left")
        .select(
            F.coalesce("rep_a", "url_a").alias("u"),
            F.coalesce("rep_b", "url_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    cc = connected_components(contracted, max_iterations)

    # old records: re-root members of touched clusters, keep the rest
    root_update = cc.select(
        F.col("node").alias("cluster_id"), F.col("cluster_id").alias("new_cid")
    )
    old_assign = (
        existing_clusters.join(root_update, "cluster_id", "left")
        .select(
            "url",
            F.coalesce("new_cid", "cluster_id").alias("cluster_id"),
        )
    )
    # new records: direct CC assignment, singletons root themselves
    new_assign = (
        new_urls.join(cc.withColumnRenamed("node", "url"), "url", "left")
        .select("url", F.coalesce("cluster_id", "url").alias("cluster_id"))
    )
    return old_assign.unionByName(new_assign)


def incremental_er(
    spark: SparkSession,
    existing_records: DataFrame,
    existing_clusters: DataFrame,
    new_pages: DataFrame,
    cfg: PipelineConfig | None = None,
    use_html: bool = True,
    existing_static_keys: DataFrame | None = None,
    existing_signatures: DataFrame | None = None,
    existing_token_df: DataFrame | None = None,
    existing_n_records: int | None = None,
) -> IncrementalOutput:
    """Resolve ``new_pages`` against an existing resolution.

    ``existing_records`` is the normalized records table of the already
    resolved corpus (url, tokens, row_hash, host, text_norm, ...);
    ``existing_clusters`` its (url, cluster_id) assignment with the batch
    convention cluster_id = min member url. ``existing_static_keys``
    (optional): the stored host+MinHash (url, key) rows of the resolved
    corpus -- pass ``static_keys(base_signatures, cfg)`` persisted at base
    resolution time to skip re-shingling the corpus; the key set (and
    therefore the output) is identical either way.

    ``existing_signatures`` + ``existing_token_df`` +
    ``existing_n_records`` (r6, pass all three): the stored signature
    table, its (token, df) aggregate
    (``blocking.token_document_frequencies`` over the base records), and
    the base record count. With them the union signature table comes from
    :func:`incremental_signatures` -- delta counts merged into the stored
    DF table, signatures rebuilt only for delta + status-changed records
    -- removing the last corpus-linear aggregation from the delta path.
    Output is byte-identical with or without state.
    """
    cfg = cfg or PipelineConfig()
    delta = normalize_pages(new_pages, use_html)
    # re-crawl guard: a url already in the corpus must not enter the union
    # twice (duplicate rows would merge both versions' tokens under the
    # signature groupBy, fan out every scored pair touching the url, and
    # emit the url from both the old and new assignment below). First
    # version wins -- re-crawl UPDATES are an upsert into the records
    # table (J2 merge law), out of this operator's scope.
    # The anti-join build side is CORPUS-scale, so broadcast only under a
    # known byte budget (state path passes existing_n_records; the avg-url
    # probe scans the cached records); past it, the shuffle anti-join
    # stands in for what a 10^12-doc deployment would do with a
    # bloom-filter pre-pass + exact check on hits.
    guard = existing_records.select("url")
    if existing_n_records is not None:
        guard = broadcast_if_small(guard, "url", existing_n_records, cfg)
    delta = delta.join(guard, "url", "left_anti").persist()
    n_delta = delta.count()
    new_urls = delta.select("url")

    sigs = None
    if (
        existing_signatures is not None
        and existing_token_df is not None
        and existing_n_records is not None
    ):
        sigs = incremental_signatures(
            existing_records,
            existing_signatures,
            existing_token_df,
            existing_n_records,
            delta,
            n_delta,
            cfg,
        )
    if sigs is None:
        union_records = existing_records.select(*delta.columns).unionByName(delta)
        sigs = mention_signatures(union_records, cfg)
    # eager (BOTH paths): delta_pairs + score scan sigs ~7x between them
    # (key families, dup stars, two feature joins); populating the cache
    # first prevents per-branch lineage recompute (see pipeline.py
    # non-checkpoint path, r6). Measured at 529k/5%: leaving the
    # state-path union LAZY (each consumer re-deriving the kept-side
    # anti-join from the stored cache) costs 220 s vs 98 s with one
    # eager 22 s materialization -- consumer count beats per-scan cost.
    sigs = sigs.persist()
    sigs.count()

    # localCheckpoint (eager), NOT persist+count: the touched-url
    # restriction below and the scored consumers (endpoint set + two rep
    # joins in merge_clusters) reference these frames several times each.
    # A persist only swaps the subtree at PHYSICAL planning -- Catalyst
    # still re-ANALYZES every duplicated copy of the logical tree on each
    # action, and the pair tree embeds the MinHash band-key expression
    # forest 4-6x (cap + pair self-join planning), so the multiplied
    # analysis alone cost ~50 s per call at ANY data scale. Checkpointing
    # collapses the logical plan to a scan leaf. The blocks live until
    # the ContextCleaner GCs the RDD (unpersist() is a no-op on them);
    # pairs/scored are thin rows, so losing columnar-cache column
    # pruning costs nothing.
    # Execute WITH AQE via persist+count (checkpointing the raw plan
    # would materialize through the RDD path, losing runtime broadcast
    # conversion and skew splitting on the pair-generation join --
    # measured ~2x slower at 529k), then collapse the logical plan to a
    # leaf by checkpointing the CACHED rows (a cheap cache scan), and
    # release the interim cache.
    pairs_cached = delta_pairs(sigs, new_urls, cfg, existing_static_keys).persist()
    pairs_cached.count()
    pairs = pairs_cached.localCheckpoint(eager=True)
    pairs_cached.unpersist()
    # Restrict the feature-join signature side to PAIR-TOUCHED urls: the
    # two per-side joins in attach_pair_features are inner, so rows for
    # untouched urls never contribute and the output is identical -- but
    # the join now shuffles the touched subset (pair-fraction scale, ~1/3
    # of rows at 529k/5%) instead of the full signature table twice,
    # which the quiet per-phase probes showed dominating the score stage.
    touched_urls = (
        pairs.select(F.col("url_a").alias("url"))
        .union(pairs.select(F.col("url_b").alias("url")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # same gated broadcast as the delta-key restriction: scan-filter the
    # cached signature table instead of shuffling it
    touched_urls = broadcast_if_small(
        touched_urls, "url", touched_urls.count(), cfg
    )
    scored_cached = score(pairs, sigs.join(touched_urls, "url", "semi"), cfg).persist()
    scored_cached.count()
    scored = scored_cached.localCheckpoint(eager=True)
    scored_cached.unpersist()
    new_edges = scored.where(F.col("is_edge")).select("url_a", "url_b")

    clusters = merge_clusters(
        existing_clusters, new_urls, new_edges, cfg.max_cc_iterations
    )
    return IncrementalOutput(delta, pairs, scored, clusters, signatures=sigs)
