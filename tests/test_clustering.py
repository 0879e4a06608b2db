"""Connected-components fixtures (FIXTURES.md section 7): chain, star, two
components joined by one edge, singleton handling, determinism. Each
fixture runs on both regimes (driver finish and star loop) through the
``cc_both_paths`` fixture; a parity law pins the driver finish to the star
loop on seeded random graphs."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from crocodile_spark.operators import clustering
from crocodile_spark.operators.clustering import cluster_records, connected_components


def _cc(spark, edges, cc_both_paths):
    df = spark.createDataFrame(edges, ["u", "v"])
    return cc_both_paths(
        lambda: {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    )


def test_chain(spark, cc_both_paths):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")], cc_both_paths)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star(spark, cc_both_paths):
    got = _cc(spark, [("m", "a"), ("m", "b"), ("m", "c")], cc_both_paths)
    assert got == {"m": "a", "a": "a", "b": "a", "c": "a"}


def test_two_components_bridged(spark, cc_both_paths):
    got = _cc(spark, [("a", "b"), ("c", "d"), ("b", "c"), ("x", "y")], cc_both_paths)
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["x"] == got["y"] == "x"


def test_duplicate_and_reversed_edges(spark, cc_both_paths):
    got = _cc(spark, [("a", "b"), ("b", "a"), ("a", "b")], cc_both_paths)
    assert got == {"a": "a", "b": "a"}


def test_self_loop_only_yields_nothing(spark, cc_both_paths):
    df = spark.createDataFrame([("a", "a")], ["u", "v"])
    assert cc_both_paths(lambda: connected_components(df).count()) == 0


def test_cluster_records_singletons(spark, cc_both_paths):
    records = spark.createDataFrame([("u1",), ("u2",), ("u3",)], ["url"])
    scored = spark.createDataFrame(
        [("u1", "u2", True), ("u1", "u3", False)], ["url_a", "url_b", "is_edge"]
    )
    got = cc_both_paths(
        lambda: {
            r["url"]: r["cluster_id"]
            for r in cluster_records(records, scored).collect()
        }
    )
    assert got["u1"] == got["u2"] == "u1"
    assert got["u3"] == "u3"  # singleton clusters to itself


def test_long_chain_converges(spark, cc_both_paths):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    got = _cc(spark, edges, cc_both_paths)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_dictionary_encoded_cc_matches_string_cc(spark):
    """r4: the long-encoded star loop must produce byte-identical
    assignments to the string loop (cluster_id = min member URL), at any
    encode threshold -- the auto mode only changes WHEN encoding kicks in,
    never the result."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    n, comp = 600, 40
    edges = []
    for i in range(n):
        a = rng.randrange(comp)
        edges.append((f"https://site-{a}.example/p{rng.randrange(50)}",
                      f"https://site-{a}.example/p{rng.randrange(50)}"))
    df = spark.createDataFrame(edges, "u string, v string")
    plain = connected_components(df, encode_ids=False)
    enc = connected_components(df, encode_ids=True)
    rp = sorted(map(tuple, plain.collect()))
    re_ = sorted(map(tuple, enc.collect()))
    assert rp == re_ and len(rp) > 0
    # every cluster_id is the lexicographic min of its members
    mins = (
        enc.groupBy("cluster_id").agg(F.min("node").alias("mn")).collect()
    )
    assert all(r["cluster_id"] == r["mn"] for r in mins)


# code points on both sides of the UTF-16 surrogate block: Java's
# String.compareTo orders U+FF21 after U+1F600 (UTF-16 units D83D < FF21),
# Python and Spark's UTF-8 binary order put it before
_ALPHABET = ["a", "b", "z", "é", "ß", "中", "\ue000", "Ａ", "\U0001F600", "\U00010348"]


def _random_edges(rng, ids, n_edges):
    """Random edges over ``ids`` with every input the canonicalisation must
    absorb: null endpoints, self-loops, duplicate and reversed edges."""
    edges = []
    for _ in range(n_edges):
        r = rng.random()
        if r < 0.04:
            edges.append((None, rng.choice(ids)))
        elif r < 0.08:
            edges.append((rng.choice(ids), None))
        elif r < 0.10:
            edges.append((None, None))
        elif r < 0.16:
            x = rng.choice(ids)
            edges.append((x, x))
        else:
            edges.append((rng.choice(ids), rng.choice(ids)))
    edges += [(v, u) for u, v in rng.sample(edges, 20)]
    edges += rng.sample(edges, 20)
    rng.shuffle(edges)
    return edges


def _record_loops(m):
    """Make ``clustering._cc_loop`` (patched through the monkeypatch
    context ``m``) log each call into the returned list."""
    loops = []
    real_loop = clustering._cc_loop
    m.setattr(
        clustering, "_cc_loop", lambda *a, **k: loops.append(1) or real_loop(*a, **k)
    )
    return loops


def _driver_vs_loop(spark, edges, schema, monkeypatch):
    df = spark.createDataFrame(edges, schema)
    with monkeypatch.context() as m:
        loops = _record_loops(m)
        driver = sorted(map(tuple, connected_components(df).collect()))
    assert not loops  # the driver finish answered
    star = sorted(map(tuple, clustering._cc_loop(df, 20).collect()))
    assert driver == star and len(driver) > 0
    comps = {}
    for node, cid in driver:
        comps.setdefault(cid, []).append(node)
    assert all(cid == min(members) for cid, members in comps.items())
    assert None not in {node for node, _ in driver}
    return dict(driver)


def test_driver_finish_matches_star_loop_on_strings(spark, monkeypatch):
    """Parity law: union-find on the driver and the large-star/small-star
    loop return identical (node, cluster_id) rows -- non-ASCII and
    astral-plane urls included, so Python's code-point order must match
    Spark's UTF-8 binary ``min``."""
    for seed in (1, 2):
        rng = random.Random(seed)
        ids = sorted(
            {
                "https://" + "".join(rng.choices(_ALPHABET, k=rng.randint(1, 3)))
                for _ in range(160)
            }
        )
        edges = _random_edges(rng, ids, 90)
        # a planted pair whose min differs between code-point and UTF-16 order
        edges.append(("https://~\U0001F600", "https://~Ａ"))
        got = _driver_vs_loop(spark, edges, "u string, v string", monkeypatch)
        assert got["https://~\U0001F600"] == "https://~Ａ"


def test_driver_finish_matches_star_loop_on_longs(spark, monkeypatch):
    """Parity law on long ids, negatives and values past 2^53 included."""
    rng = random.Random(3)
    ids = [rng.choice((-1, 1)) * rng.randrange(1 << 62) for _ in range(150)]
    edges = _random_edges(rng, ids, 90)
    _driver_vs_loop(spark, edges, "u long, v long", monkeypatch)


def test_driver_finish_gate_is_byte_budgeted(spark, monkeypatch):
    """A few edges whose urls exceed the driver byte budget fall back to the
    star loop; under the budget they take the driver finish. On either
    branch the edge input's lineage is evaluated exactly once (the gate
    reads the aggregate the loop needs anyway, not the raw input)."""
    rows = [(f"{i}" + "u" * 3000, f"{i + 1}" + "u" * 3000) for i in range(4)]

    def run(budget):
        # count input rows at the scan, below any operator that might
        # repeat a column expression per row
        evals = spark.sparkContext.accumulator(0)

        def counted(row):
            evals.add(1)
            return row

        with monkeypatch.context() as m:
            m.setattr(clustering, "CC_DRIVER_MAX_BYTES", budget)
            loops = _record_loops(m)
            edges = spark.createDataFrame(
                spark.sparkContext.parallelize(rows, 2).map(counted),
                "u string, v string",
            )
            got = sorted(map(tuple, connected_components(edges).collect()))
        return got, bool(loops), evals.value

    # 4 edges x ~6 kB of endpoints ~ 24 kB > 10 kB: the star loop
    tight, tight_looped, tight_evals = run(10_000)
    roomy, roomy_looped, roomy_evals = run(clustering.CC_DRIVER_MAX_BYTES)
    assert tight_looped and not roomy_looped
    assert tight_evals == len(rows) and roomy_evals == len(rows)
    assert tight == roomy and {c for _, c in tight} == {rows[0][0]}
