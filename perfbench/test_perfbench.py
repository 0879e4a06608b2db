"""Tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from ledger import Span, interval_union, self_time, uncovered_time, valid_metric_name  # noqa: E402
from workloads import (  # noqa: E402
    SIZES,
    WARM_ENTITIES,
    corpus_digest,
    make_inputs,
    pairwise_f1,
    partition_checksum,
    planted_dup_pairs,
)


@pytest.mark.parametrize(
    "intervals, covered",
    [
        ([], 0.0),
        ([(1, 3)], 2.0),
        ([(1, 3), (5, 6)], 3.0),          # disjoint
        ([(1, 4), (2, 6)], 5.0),          # overlapping
        ([(1, 10), (2, 3), (4, 5)], 9.0),  # nested
        ([(1, 2), (2, 3)], 2.0),          # touching
        ([(5, 6), (1, 2)], 2.0),          # unsorted
        ([(3, 3), (4, 2)], 0.0),          # empty and inverted
    ],
)
def test_interval_union(intervals, covered):
    assert interval_union(intervals) == pytest.approx(covered)


def test_uncovered_time_clips_jobs_to_the_span():
    # jobs that started before or ended after the span count only inside it
    assert uncovered_time(10, 20, [(5, 12), (18, 25)]) == pytest.approx(6)
    assert uncovered_time(10, 20, [(0, 30)]) == pytest.approx(0)
    assert uncovered_time(10, 20, []) == pytest.approx(10)
    assert uncovered_time(10, 20, [(12, 14), (13, 16)]) == pytest.approx(6)


def test_span_self_time_subtracts_only_direct_children():
    op = Span("op", "op#0", None, 0.0, 10.0)
    a = Span("a", "a#1", op, 1.0, 4.0)
    b = Span("b", "b#2", op, 3.0, 6.0)
    grandchild = Span("c", "c#3", a, 1.5, 2.0)
    spans = [grandchild, a, b, op]
    assert self_time(op, spans) == pytest.approx(5.0)
    assert self_time(a, spans) == pytest.approx(2.5)
    assert self_time(b, spans) == pytest.approx(3.0)


@pytest.mark.parametrize(
    "name, ok",
    [
        ("wall_s", True),
        ("blocking.pairs_from_signatures.shuffle_read_bytes", True),
        ("0-a.b_c", True),
        ("x" * 64, True),
        ("x" * 65, False),
        ("", False),
        ("_lead", False),
        ("has space", False),
        ("slash/name", False),
        ("café", False),
    ],
)
def test_metric_name_charset(name, ok):
    assert valid_metric_name(name) is ok


def test_benchmark_json_matches_what_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == run.per_layer_metrics()
    names = [n for n, _ in e2e + layer] + [w["name"] for w in bench["workloads"]]
    assert all(valid_metric_name(n) for n in names)
    assert len(set(n for n, _ in e2e + layer)) == len(e2e + layer)
    assert {w["name"] for w in bench["workloads"]} <= set(SIZES)


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_same_seed_gives_byte_identical_inputs(workload):
    a, b = make_inputs(workload, 5), make_inputs(workload, 5)
    assert corpus_digest(a) == corpus_digest(b)
    assert corpus_digest(a) != corpus_digest(make_inputs(workload, 6))


@pytest.mark.parametrize("workload", ["er_short", "near_dup"])
def test_warm_up_corpus_is_seeded_and_smaller(workload):
    warm = make_inputs(workload, 5, n_entities=WARM_ENTITIES)
    again = make_inputs(workload, 5, n_entities=WARM_ENTITIES)
    assert corpus_digest(warm) == corpus_digest(again)
    assert len(warm.web_pages) < len(make_inputs(workload, 5).web_pages)


def test_planted_dup_pairs_follow_dup_url_chains():
    urls = ["h/x/p0", "h/x/p0/dup1", "h/x/p0/dup1/dup7", "h/dupe/p1", "h/y/p2"]
    assert planted_dup_pairs(urls) == {
        ("h/x/p0", "h/x/p0/dup1"),
        ("h/x/p0", "h/x/p0/dup1/dup7"),
        ("h/x/p0/dup1", "h/x/p0/dup1/dup7"),
    }


def test_partition_checksum_ignores_cluster_ids_and_f1_law():
    a = {"u1": "c1", "u2": "c1", "u3": "c3"}
    b = {"u1": "z", "u2": "z", "u3": "u3"}
    assert partition_checksum(a) == partition_checksum(b)
    assert partition_checksum(a) != partition_checksum({"u1": 1, "u2": 2, "u3": 3})

    import pandas as pd

    gold = pd.DataFrame(
        {"url_a": ["u1", "u1", "u2"], "url_b": ["u2", "u3", "u3"], "label": [1, 0, 0]}
    )
    scope = {("u1", "u2"), ("u1", "u3")}
    assert pairwise_f1(a, gold, scope) == 1.0
    assert pairwise_f1({"u1": 1, "u2": 1, "u3": 1}, gold, scope) == pytest.approx(2 / 3)
