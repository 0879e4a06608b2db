"""The benchmark's workloads: seeded inputs, one timed operation, checks.

Each workload builds its inputs from the seed with ``crocodile_spark.datagen``
and drives the engine only through its public entry points. An operation
is one unit the harness times: a full batch resolution (``er_*``), one
delta batch (``er_stream``) or one pass of the near-duplicate finders
(``near_dup``). Checks run after the timed region on what the operation
returned.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass, field

# Sizes are chosen so that one run, Spark start-up included, stays well
# inside the benchmark's time budget on a 4-core host (see README.md).
# ``stream_probe`` is the small corpus behind the traced run's streaming span.
SIZES = {
    "er_short": dict(n_entities=200, pages_per_entity=8, filler_range=(2, 6)),
    "er_long": dict(n_entities=300, pages_per_entity=8, filler_range=(40, 120)),
    "er_stream": dict(n_entities=150, pages_per_entity=8, filler_range=(2, 6)),
    # 21-40 filler tokens draw from datagen's wide seeded vocabulary; at
    # 40-120 the MinHash candidate volume (and with it the verify cost and
    # its checkpoint) varied by 63% IQR across seeds, at 21-40 by ~10%
    "near_dup": dict(n_entities=150, pages_per_entity=8, filler_range=(21, 40),
                     embedding_dim=32),
    "stream_probe": dict(n_entities=40, pages_per_entity=8, filler_range=(2, 6)),
}
WARM_ENTITIES = 20       # the warm-up pass runs on a corpus this small
DELTA_SHARE = 0.02       # one delta batch = 2% of the pages
STREAM_DELTAS = 8        # batches held out of the base: 1 warm-up + 7 timed
F1_MIN = 0.99
_DUP_SUFFIX = re.compile(r"(/dup\d+)+$")


def make_inputs(workload: str, seed: int, n_entities: int | None = None):
    from crocodile_spark.datagen import make_corpus

    size = dict(SIZES[workload])
    if n_entities is not None:
        size["n_entities"] = n_entities
    return make_corpus(seed=seed, **size)


def corpus_digest(corpus) -> str:
    """sha256 over every generated row, in order (inputs are seeded, so the
    same seed must give the same digest)."""
    h = hashlib.sha256()
    for frame in (corpus.web_pages, corpus.kb_entities, corpus.gold_pairs):
        h.update(repr(list(frame.columns)).encode())
        for row in frame.itertuples(index=False):
            h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def stream_order(url: str) -> str:
    return hashlib.md5(url.encode()).hexdigest()


def planted_dup_pairs(urls) -> set:
    """Pairs of pages datagen planted as exact duplicates: a duplicate's url
    is its source's url plus ``/dupN``, possibly repeated."""
    groups: dict = {}
    for u in urls:
        groups.setdefault(_DUP_SUFFIX.sub("", u), []).append(u)
    return {
        (a, b)
        for g in groups.values()
        for i, a in enumerate(sorted(g))
        for b in sorted(g)[i + 1:]
    }


def partition_checksum(cluster_of: dict) -> str:
    """Digest of the url partition, independent of cluster-id choice."""
    groups: dict = {}
    for url, cid in cluster_of.items():
        groups.setdefault(cid, []).append(url)
    canon = sorted(",".join(sorted(g)) for g in groups.values())
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def pairwise_f1(cluster_of: dict, gold, scope: set) -> float:
    """Pairwise F1 over gold pairs inside ``scope`` (the north-rule law:
    a gold pair counts when it shares a blocking key)."""
    tp = fp = fn = 0
    for a, b, label in gold[["url_a", "url_b", "label"]].itertuples(index=False):
        if (a, b) not in scope:
            continue
        ca = cluster_of.get(a)
        pred = ca is not None and ca == cluster_of.get(b)
        tp += pred and label == 1
        fp += pred and label == 0
        fn += (not pred) and label == 1
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def _clusters_dict(df) -> dict:
    return {r["url"]: r["cluster_id"] for r in df.select("url", "cluster_id").collect()}


def _pair_set(df) -> set:
    return {(r[0], r[1]) for r in df.select("url_a", "url_b").collect()}


@dataclass
class OpResult:
    records: int                 # input records the operation resolved
    pairs: int = 0               # candidate pairs (er_*), for pairs_per_s
    ok: bool = True
    details: dict = field(default_factory=dict)


class Workload:
    """Base: subclasses set ``name`` and implement load, warm, op, check."""

    name = ""
    min_ops = 2
    max_ops = 50

    def __init__(self, spark, cfg, seed: int, workdir: str) -> None:
        self.spark, self.cfg, self.seed, self.workdir = spark, cfg, seed, workdir

    def load(self, corpus) -> None:
        """Turn the generated corpus into materialized Spark inputs."""
        raise NotImplementedError

    def bootstrap(self) -> None:
        """State the warm-up and the operations build on (none by default)."""

    def warm(self, led, small) -> None:
        """One untimed pass of the operation on ``small``, a corpus of
        ``WARM_ENTITIES`` entities from the same generator. It pays the
        one-time costs (JVM class loading and code generation, Python
        worker start) at a fraction of the real input's cost."""
        raise NotImplementedError

    def op(self, i: int, led):
        """One timed operation; returns a handle ``check`` consumes."""
        raise NotImplementedError

    def check(self, i: int, handle) -> OpResult:
        raise NotImplementedError

    def final(self) -> OpResult | None:
        """An optional whole-run check phase, counted as one operation."""
        return None

    def probe(self, led) -> OpResult | None:
        """Traced runs only: an extra traced phase for a layer the timed
        operation does not enter, counted as one operation."""
        return None

    def layer_extras(self) -> dict:
        """Per-layer figures beyond the span ledger, after a traced op."""
        return {}


class BatchER(Workload):
    """``er_short`` / ``er_long``: ``run_pipeline`` over the whole corpus."""

    def __init__(self, name, *a) -> None:
        super().__init__(*a)
        self.name = name
        self._checksum = None

    def load(self, corpus) -> None:
        self.pages = self._pages(corpus)
        self.n_pages = len(corpus.web_pages)
        self.gold = corpus.gold_pairs

    def _pages(self, corpus):
        from crocodile_spark.datagen import corpus_to_spark

        return corpus_to_spark(self.spark, corpus)[0].localCheckpoint(eager=True)

    def warm(self, led, small) -> None:
        self._run(self._pages(small))

    def _run(self, pages):
        from crocodile_spark.pipeline import run_pipeline

        out = run_pipeline(self.spark, pages, self.cfg)
        return out.pairs, out.clusters.localCheckpoint(eager=True)

    def op(self, i, led):
        if not led.enabled:
            return self._run(self.pages)
        return self._traced_op(led)

    def _traced_op(self, led):
        """run_pipeline's default branch, stage by stage, each stage
        materialized the way that branch does (eager localCheckpoint)."""
        from crocodile_spark.operators.blocking import (
            mention_signatures,
            pairs_from_signatures,
        )
        from crocodile_spark.operators.clustering import cluster_records
        from crocodile_spark.operators.normalize_stage import normalize_pages
        from crocodile_spark.operators.scoring import score

        cfg = self.cfg
        with led.span("op"):
            with led.span("normalize_stage.normalize_pages") as s:
                records = normalize_pages(self.pages, True).localCheckpoint(eager=True)
                s.output = records
            with led.span("blocking.mention_signatures") as s:
                sigs = mention_signatures(records, cfg).localCheckpoint(eager=True)
                s.output = sigs
            with led.span("blocking.pairs_from_signatures") as s:
                pairs = pairs_from_signatures(sigs, cfg).localCheckpoint(eager=True)
                s.output = pairs
            with led.span("scoring.score") as s:
                scored = score(pairs, sigs, cfg).localCheckpoint(eager=True)
                s.output = scored
                self._scored = scored
            with led.span("clustering.cluster_records") as s:
                clusters = cluster_records(
                    records, scored, max_iterations=cfg.max_cc_iterations
                ).localCheckpoint(eager=True)
                s.output = clusters
        return pairs, clusters

    def layer_extras(self) -> dict:
        """``scoring.score.edge_yield``: accepted edges over scored pairs."""
        from pyspark.sql import functions as F

        row = self._scored.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_edge").cast("long")).alias("e"),
        ).collect()[0]
        return {"scoring.score.edge_yield": (row["e"] or 0) / row["n"] if row["n"] else 0.0}

    def check(self, i, handle) -> OpResult:
        pairs_df, clusters_df = handle
        scope = _pair_set(pairs_df)
        cluster_of = _clusters_dict(clusters_df)
        f1 = pairwise_f1(cluster_of, self.gold, scope)
        checksum = partition_checksum(cluster_of)
        if self._checksum is None:
            self._checksum = checksum
        ok = (
            f1 >= F1_MIN
            and checksum == self._checksum
            and len(cluster_of) == self.n_pages
        )
        return OpResult(
            records=self.n_pages, pairs=len(scope), ok=ok,
            details={"f1": f1, "partition_sha256": checksum},
        )

    def probe(self, led) -> OpResult:
        """The streaming layer, which a batch run never enters: a small
        ``stream_probe`` base is bootstrapped untraced, then one ~2% delta
        batch goes through ``process_batch`` inside the span. It is that
        session's first delta batch, so its wall time includes one-time
        costs of the delta path; its job, stage and task counts do not."""
        stream = StreamER(self.spark, self.cfg, self.seed,
                          os.path.join(self.workdir, "stream_probe"))
        stream.load(make_inputs("stream_probe", self.seed))
        stream.bootstrap()
        with led.span("streaming.process_batch") as s:
            stream._send(0)
            s.output = stream.res.clusters()
        return stream.check(-1, 0)


class StreamER(Workload):
    """``er_stream``: a bootstrapped base, then ~2% delta batches through
    ``StreamingEntityResolution.process_batch``, closed loop (the next batch
    is sent when the previous one has committed)."""

    name = "er_stream"
    max_ops = STREAM_DELTAS - 1

    def load(self, corpus) -> None:
        from crocodile_spark.datagen import corpus_to_spark
        from crocodile_spark.streaming.incremental import StreamingEntityResolution

        wp = corpus.web_pages
        # a fixed-size ~2% slice per batch, pages taken in url-hash order
        order = wp["url"].map(stream_order).argsort().to_numpy()
        k = max(1, round(DELTA_SHARE * len(wp)))
        self.gold = corpus.gold_pairs
        cols = ["url", "warc_ts", "html", "text", "lang"]

        def frame(rows):
            pdf = wp.iloc[rows]
            sub = type(corpus)(pdf, corpus.kb_entities, corpus.gold_pairs)
            df = corpus_to_spark(self.spark, sub)[0]
            return df.select(*cols).localCheckpoint(eager=True), list(pdf["url"])

        self.base, self.ingested = frame(order[STREAM_DELTAS * k:])
        self.deltas = [frame(order[d * k:(d + 1) * k]) for d in range(STREAM_DELTAS)]
        self.sent = [self.base]
        self.state_dir = os.path.join(self.workdir, "stream_state")
        self.res = StreamingEntityResolution(
            self.spark, self.state_dir, self.cfg, use_html=True
        )

    def bootstrap(self) -> None:
        self.res.process_batch(self.base, 0)

    def warm(self, led, small) -> None:
        """The first delta batch against the real base (the delta path's
        one-time costs need the stored state ``small`` lacks)."""
        self._send(0)
        self._ingest(0)

    def _send(self, d: int) -> None:
        self.res.process_batch(self.deltas[d][0], d + 1)

    def _ingest(self, d: int) -> None:
        self.sent.append(self.deltas[d][0])
        self.ingested += self.deltas[d][1]

    def op(self, i, led):
        d = i + 1  # delta 0 was the warm-up batch
        with led.span("streaming.process_batch") as s:
            self._send(d)
            s.output = self.res.clusters()
        return d

    def check(self, i, d) -> OpResult:
        self._ingest(d)
        with open(os.path.join(self.state_dir, "meta.json")) as f:
            meta = json.load(f)
        n_snapshot = self.res.clusters().count()
        ok = (
            meta["last_batch_id"] == d + 1
            and meta["n_records"] == len(self.ingested) == n_snapshot
        )
        return OpResult(records=len(self.deltas[d][1]), ok=ok,
                        details={"n_records": meta["n_records"]})

    def final(self) -> OpResult:
        """The streamed partition against gold and against a one-shot
        ``run_pipeline`` over the same pages (equality is reported, not
        gated: the incremental path's documented DF-drift caveat)."""
        from functools import reduce

        from crocodile_spark.pipeline import run_pipeline

        pages = reduce(lambda a, b: a.unionByName(b), self.sent)
        one_shot = run_pipeline(self.spark, pages, self.cfg)
        scope = _pair_set(one_shot.pairs)
        streamed = _clusters_dict(self.res.clusters())
        urls = set(self.ingested)
        gold = self.gold[self.gold["url_a"].isin(urls) & self.gold["url_b"].isin(urls)]
        f1 = pairwise_f1(streamed, gold, scope)
        equal = partition_checksum(streamed) == partition_checksum(
            _clusters_dict(one_shot.clusters)
        )
        return OpResult(
            records=len(urls), ok=f1 >= F1_MIN and len(streamed) == len(urls),
            details={"f1": f1, "partition_equals_one_shot": equal},
        )


class NearDup(Workload):
    """``near_dup``: the three dedup finders and LSH top-k over long pages
    with embeddings and planted exact duplicates."""

    name = "near_dup"

    def load(self, corpus) -> None:
        self.n_pages = len(corpus.web_pages)
        self.planted = planted_dup_pairs(corpus.web_pages["url"])
        self.docs, self.queries = self._frames(corpus, self.planted)

    def _frames(self, corpus, planted):
        """(docs, queries): every page, and the planted duplicates as
        top-k queries, both materialized."""
        from pyspark.sql import functions as F

        from crocodile_spark.datagen import corpus_to_spark

        dup_urls = sorted({u for p in planted for u in p})
        wp = corpus_to_spark(self.spark, corpus)[0]
        docs = wp.select(
            F.col("url").alias("doc_id"), "text", "embedding"
        ).localCheckpoint(eager=True)
        queries = docs.where(F.col("doc_id").isin(dup_urls)).select(
            F.col("doc_id").alias("query_id"), "embedding"
        ).localCheckpoint(eager=True)
        return docs, queries

    def warm(self, led, small) -> None:
        planted = planted_dup_pairs(small.web_pages["url"])
        self._run(*self._frames(small, planted), led)

    def op(self, i, led):
        return self._run(self.docs, self.queries, led)

    def _run(self, docs, queries, led):
        from pyspark.sql import functions as F

        from crocodile_spark.operators.dedup import (
            embedding_near_dup_pairs,
            minhash_lsh_pairs,
            simhash_pairs,
        )
        from crocodile_spark.operators.similarity_search import lsh_topk

        corpus = docs.select(F.col("doc_id").alias("cand_id"), "embedding")
        calls = (
            ("dedup.minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs)),
            ("dedup.simhash_pairs", lambda: simhash_pairs(docs)),
            ("dedup.embedding_near_dup_pairs", lambda: embedding_near_dup_pairs(
                docs.withColumnRenamed("doc_id", "vec_id"))),
            ("similarity_search.lsh_topk", lambda: lsh_topk(queries, corpus)),
        )
        out = {}
        with led.span("op"):
            for name, call in calls:
                with led.span(name) as s:
                    s.output = call()
                    out[name] = s.output.collect()
        return out

    def check(self, i, out) -> OpResult:
        found, n_out = {}, {}
        for name, rows in out.items():
            if name == "similarity_search.lsh_topk":
                hits = {(r["query_id"], r["cand_id"]) for r in rows}
                found[name] = sum(
                    (a, b) in hits and (b, a) in hits for a, b in self.planted
                )
            else:
                hits = {(r["id_a"], r["id_b"]) for r in rows}
                found[name] = len(self.planted & hits)
            n_out[name] = len(hits)
        recall = sum(found.values()) / (len(found) * len(self.planted))
        return OpResult(
            records=self.n_pages, ok=recall == 1.0 and len(self.planted) > 0,
            details={"dup_recall": recall, "planted_pairs": len(self.planted),
                     "pairs_out": n_out},
        )


WORKLOADS = {
    "er_short": lambda *a: BatchER("er_short", *a),
    "er_long": lambda *a: BatchER("er_long", *a),
    "er_stream": StreamER,
    "near_dup": NearDup,
}
