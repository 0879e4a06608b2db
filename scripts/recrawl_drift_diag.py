#!/usr/bin/env python
"""Root-cause the recrawl partition divergence seen at 529k (BENCH.md r7):
classify the pair-level differences between the incremental upsert and the
full re-run of the mutated corpus.

Divergence can only come from pairs one side scored and the other never
generated (both score identical features on identical signature rows):

  A. full-only old-old EDGES: pairs of old, unchanged-signature records
     accepted by the full re-run but never generated incrementally --
     blocks that newly became pair-eligible without holding a seed url
     (the downward cap/cutoff-drift class).
  B. base edges ABSENT from the full re-run's accepted set between
     still-coclustered-by-carry records -- blocks the full re-run capped
     away that base had scored (the upward-drift class); the incremental
     path carries these merges, the full re-run never sees the pair.

For class A, each pair is attributed to the blocking-key family that
would have generated it (tok: / host: / mh: / exact-dup row_hash) and,
for static families, whether the key's base block size exceeded the cap
(confirming or refuting the static-cap-crossing hypothesis named in
BENCH.md).

Usage: python scripts/recrawl_drift_diag.py [n_entities] [pages]
       defaults 25000 8 (~200k records; the 529k mix, faster iteration)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 25000
    pages = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.operators.blocking import (
        static_keys,
        token_document_frequencies,
        token_keys,
    )
    from crocodile_spark.operators.recrawl import recrawl_upsert
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = cores * 3
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(
        app_name="recrawl-drift-diag",
        master=f"local[{cores}]",
        shuffle_partitions=parts,
    )

    corpus = make_corpus(
        n_entities=n_entities, pages_per_entity=pages, seed=42,
        filler_range=(40, 120),
    )
    wp, _kb, _gold = corpus_to_spark(spark, corpus)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    wp = wp.select(*cols).repartition(parts).persist()
    wp.count()

    h = F.pmod(F.xxhash64("url"), F.lit(20))
    base_wp = wp.where(h < 18).persist()
    new_wp = wp.where(h >= 18).persist()
    h2 = F.pmod(F.xxhash64("url"), F.lit(19))
    upd_wp = base_wp.where(h2 == 3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" recrawl revision marker"))
    )
    batch = upd_wp.unionByName(base_wp.where(h2 == 5)).unionByName(new_wp)
    mutated = (
        base_wp.where(h2 != 3).unionByName(upd_wp).unionByName(new_wp).persist()
    )
    mutated.count()

    cfg = PipelineConfig(shuffle_partitions=parts)
    B = cfg.max_block_size

    base = run_pipeline(spark, base_wp, cfg, use_html=False)
    base.clusters.persist().count()
    base.records.persist().count()
    base.signatures.persist().count()
    token_df = token_document_frequencies(base.records, cfg).persist()
    keys = static_keys(base.signatures, cfg).persist()
    keys.count()
    n_base = base.records.count()
    base_edges = (
        base.scored.where(F.col("is_edge")).select("url_a", "url_b").persist()
    )
    base_edges.count()

    out = recrawl_upsert(
        spark, base.records, base.clusters, batch, cfg, use_html=False,
        existing_static_keys=keys,
        existing_signatures=base.signatures,
        existing_token_df=token_df,
        existing_n_records=n_base,
    )
    out.clusters.persist().count()
    full = run_pipeline(spark, mutated, cfg, use_html=False)
    full.clusters.persist().count()

    # diverging urls
    j = out.clusters.withColumnRenamed("cluster_id", "cid_inc").join(
        full.clusters.withColumnRenamed("cluster_id", "cid_full"), "url"
    ).persist()
    sizes_inc = j.groupBy("cid_inc").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.countDistinct("cid_full").alias("k_full"),
    )
    sizes_full = j.groupBy("cid_full").agg(
        F.count(F.lit(1)).alias("n_f"),
        F.countDistinct("cid_inc").alias("k_inc"),
    )
    div_i = sizes_inc.where(F.col("k_full") > 1)
    div_f = sizes_full.where(F.col("k_inc") > 1)
    n_div_urls = (
        j.join(div_i.select("cid_inc"), "cid_inc", "semi")
        .union(j.join(div_f.select("cid_full"), "cid_full", "semi"))
        .select("url").distinct().count()
    )

    # class A: full-run accepted edges never present incrementally
    inc_pairs = out.pairs.select("url_a", "url_b")
    full_edges = full.scored.where(F.col("is_edge")).select("url_a", "url_b")
    a_edges = (
        full_edges.join(inc_pairs, ["url_a", "url_b"], "left_anti")
        .join(base_edges, ["url_a", "url_b"], "left_anti")
        .persist()
    )
    n_a = a_edges.count()

    # class B: base edges absent from the full re-run's accepted set
    b_edges = (
        base_edges.join(full_edges, ["url_a", "url_b"], "left_anti").persist()
    )
    n_b = b_edges.count()

    # attribute class A to key families over the FULL run's key universe
    full_keys = token_keys(full.signatures).unionByName(
        static_keys(full.signatures, cfg)
    ).persist()
    # MinHash band keys are formatted "mh<band>:<hash>"
    # (blocking.minhash_band_keys) -- match the numbered prefix (ADVICE r7: a
    # bare "mh:" prefix never matched, binning every band key as "other")
    fam = F.when(F.col("key").startswith("tok:"), "tok").otherwise(
        F.when(F.col("key").startswith("host:"), "host").otherwise(
            F.when(F.col("key").rlike("^mh[0-9]+:"), "mh").otherwise("other")
        )
    )
    ka = full_keys.select(F.col("url").alias("url_a"), "key")
    kb = full_keys.select(F.col("url").alias("url_b"), "key")
    a_keyed = (
        a_edges.join(ka, "url_a").join(kb, ["url_b", "key"])
        .select("url_a", "url_b", "key")
        .persist()
    )
    # base block size of each attributing key (0 = key absent in base)
    base_key_sizes = keys.unionByName(
        token_keys(base.signatures)
    ).groupBy("key").agg(F.count(F.lit(1)).alias("base_n"))
    a_attr = (
        a_keyed.join(base_key_sizes, "key", "left")
        .select(
            "url_a", "url_b",
            fam.alias("fam"),
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
        )
        .groupBy("url_a", "url_b")
        .agg(
            F.collect_set("fam").alias("fams"),
            F.max(F.col("base_n") > B).alias("any_key_overcap_in_base"),
            F.min(F.col("base_n")).alias("min_base_n"),
        )
        .persist()
    )
    fam_counts = {
        r["f"]: r["n"]
        for r in a_attr.select(
            F.explode("fams").alias("f")
        ).groupBy("f").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_a_overcap = a_attr.where(F.col("any_key_overcap_in_base")).count()
    n_a_keyless = n_a - a_attr.count()

    # exact-dup star edges (row_hash equality) among class A
    rh = full.signatures.select("url", "row_hash")
    n_a_dup = (
        a_edges.join(rh.withColumnRenamed("url", "url_a")
                     .withColumnRenamed("row_hash", "h_a"), "url_a")
        .join(rh.withColumnRenamed("url", "url_b")
              .withColumnRenamed("row_hash", "h_b"), "url_b")
        .where(F.col("h_a") == F.col("h_b")).count()
    )

    report = {
        "n_records_final": out.n_records,
        "n_diverging_urls": n_div_urls,
        "full_only_edges_A": n_a,
        "A_by_family": fam_counts,
        "A_with_some_key_overcap_in_base": n_a_overcap,
        "A_unattributed_to_any_shared_key": n_a_keyless,
        "A_exact_dup_pairs": n_a_dup,
        "base_edges_lost_in_full_B": n_b,
        "load_avg_1m": os.getloadavg()[0],
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
