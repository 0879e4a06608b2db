"""Stage 4 -- transitive clustering via connected components (SURVEY.md
section 7.1 step 5), deterministic cluster id = min member.

No GraphFrames dependency. The canonical edge set (oriented u > v,
self-loops and null endpoints dropped, distinct) is checkpointed and
scanned by ONE aggregate -- count, order-independent xxhash checksum and
endpoint byte sum -- and that aggregate picks one of two regimes:

- small graphs (fewer than ``CC_ENCODE_MIN_EDGES`` edges and at most
  ``CC_DRIVER_MAX_BYTES`` endpoint bytes): the edges are collected once
  and finished by a driver-side union-find; the assignment comes back as
  a local (``LocalRelation``) frame, which the join with records can
  broadcast instead of shuffling.
- everything else: the large-star/small-star loop from the published
  MapReduce CC literature -- a driver-side loop of joins/aggregations
  with a cheap fixed-point check (row count + checksum) and
  ``localCheckpoint`` per round to cut lineage.

Node-id encoding (r4, the 10^12-node prerequisite this module's r3
docstring named): string node ids (urls) are DICTIONARY-ENCODED to longs
before the loop and decoded after. The dictionary is the distinct node
table, checkpointed, tagged with ``monotonically_increasing_id`` --
collision-free by construction (partition_id << 33 | position), no count
job, no giant map literal, no extra shuffle beyond the distinct the node
table needs anyway. Every CC round then shuffles 8-byte keys instead of
full url strings (the loop's dominant shuffle bytes at web scale). The
final assignment re-derives cluster_id = min member URL per component, so
the output is byte-identical to the un-encoded form regardless of which
long ids the dictionary handed out.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crocodile_spark.config import PipelineConfig


def _canon(edges: DataFrame) -> DataFrame:
    """Orient edges u > v, drop self-loops, distinct."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node n: link every strictly-larger neighbor to
    min(neighborhood + self).

    r8: the output is NOT deduplicated here -- it is already canonically
    oriented by construction (u = v > m = v's neighborhood min), and the
    following ``_small_star`` ends in ``_canon`` anyway, so the extra
    distinct was one full exchange per round for nothing. Duplicate
    (v, m) rows are bounded by the input edge count (each input edge
    emits at most one row), collapse map-side in small-star's min
    aggregation, and are removed by its closing distinct -- assignments
    are identical (A/B-verified), one exchange per round cheaper."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_minv"))
        .select("u", F.least(F.col("u"), F.col("_minv")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node n (edges oriented n > v): link all small neighbors and
    n itself to the minimum small neighbor."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = edges.join(mins, "u").select(F.col("v").alias("n"), F.col("m"))
    selfs = mins.select(F.col("u").alias("n"), F.col("m"))
    out = nbrs.union(selfs).select(F.col("n").alias("u"), F.col("m").alias("v"))
    return _canon(out)


def _checksum(edges: DataFrame, nbytes: bool = False) -> tuple[int, ...]:
    """(count, order-independent xxhash) of an edge set: the star loop's
    fixed-point state. ``nbytes`` appends the UTF-8 byte sum of both
    endpoints, computed in the SAME aggregate (the driver-finish gate)."""
    aggs = [
        F.count(F.lit(1)),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)),
    ]
    if nbytes:
        size = F.octet_length(F.col("u").cast("string")) + F.octet_length(
            F.col("v").cast("string")
        )
        aggs.append(F.coalesce(F.sum(size), F.lit(0)))
    return tuple(int(x) for x in edges.agg(*aggs).collect()[0])


def _cc_loop(
    edges: DataFrame,
    max_iterations: int,
    pre_canonical: bool = False,
    prev: tuple[int, ...] | None = None,
) -> DataFrame:
    """The raw alternating-star loop: edges(u, v) -> (node, cluster_id)
    with cluster_id = min member under the node type's natural order.
    ``pre_canonical``: the input is already oriented/distinct/checkpointed;
    ``prev``: its (count, checksum) if the caller already computed it, so
    the fixed-point scan is not re-run on the identical frame."""
    if pre_canonical:
        e = edges
    else:
        e = _canon(edges).localCheckpoint(eager=False)
    if prev is None:
        prev = _checksum(e)
    for _ in range(max_iterations):
        # lazy checkpoint + checksum = ONE job per round: the checksum scan
        # materializes the checkpoint as it runs (r8; eager=True spent a
        # separate materialization job per round before the checksum job)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every edge is (member, root)
    members = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).distinct()


def encode_node_dictionary(edges: DataFrame) -> DataFrame:
    """(node, nid) dictionary over every node appearing in the edge set.

    ``monotonically_increasing_id`` over the CHECKPOINTED distinct node
    table: unique by construction, stable across the encode and decode
    joins because the input partitions are frozen first. Ids are sparse,
    which CC never cares about -- it needs only uniqueness and a total
    order."""
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return nodes.withColumn("nid", F.monotonically_increasing_id())


# Below this edge count the ~5 extra encode/decode shuffles cost more than
# long-key star rounds save -- and the graph is small enough to finish on
# the driver (see connected_components); the probe is free because the
# canonical edge set's checksum (needed for the fixed-point check anyway)
# carries the count.
CC_ENCODE_MIN_EDGES = 100_000

# Endpoint bytes the driver finish may collect: the driver byte budget
# forced broadcasts already respect (PipelineConfig.broadcast_bytes_cap).
CC_DRIVER_MAX_BYTES = PipelineConfig.broadcast_bytes_cap

# Node types whose Python order equals Spark's: str compares by code
# point, which is exactly the UTF-8 binary order of Spark's default
# string collation; Python ints order like Spark's integral types.
_DRIVER_NODE_TYPES = (
    T.StringType(), T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType()
)


def _driver_cc(e: DataFrame) -> DataFrame:
    """Finish a canonical, checkpointed edge set on the driver: collect it
    once, union-find with root = min member (union links the larger root
    under the smaller, so every root is its component's minimum), and
    return (node, cluster_id) as an Arrow-built local frame."""
    tbl = e.toArrow()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]  # path halving
        return x

    for u, v in zip(tbl.column("u").to_pylist(), tbl.column("v").to_pylist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    pdf = pd.DataFrame({"node": nodes, "cluster_id": [find(n) for n in nodes]})
    schema = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id")).schema
    return e.sparkSession.createDataFrame(pdf, schema)


def connected_components(
    edges: DataFrame, max_iterations: int = 20, encode_ids: bool | None = None
) -> DataFrame:
    """edges(u, v) -> assignments(node, cluster_id) with cluster_id = min
    member of the component. Nodes appearing in no edge are absent (the
    caller unions singletons); self-loops and null endpoints add nothing.

    Two regimes, picked by one aggregate over the canonical edge set
    (count, checksum, endpoint byte sum) that the star loop needs anyway:

    - driver finish: with ``encode_ids`` left to auto, an edge set under
      ``CC_ENCODE_MIN_EDGES`` edges and ``CC_DRIVER_MAX_BYTES`` endpoint
      bytes, over node types that order alike in Python and Spark, is
      collected once and finished by union-find (one collect job instead
      of ~9 jobs per star round). The bound is a measured property of the
      input -- exactly the bytes the collect moves -- not an estimate, a
      host property or a workload name, so a given input always takes
      the same regime and the driver's memory use is capped by the bound.
    - star loop: everything else, and any explicit ``encode_ids``.
      ``encode_ids`` (default: auto -- on for string node ids once the
      canonical edge set reaches CC_ENCODE_MIN_EDGES) runs the loop over
      dictionary-encoded longs and decodes afterwards.

    The returned cluster_id is the min member in the ORIGINAL id space in
    every regime, so callers and oracles see identical rows at any
    threshold."""
    e = _canon(edges).localCheckpoint(eager=False)  # materialized by _checksum
    n, h, nbytes = _checksum(e, nbytes=True)
    dtype = e.schema["u"].dataType
    if encode_ids is None:
        if (
            n < CC_ENCODE_MIN_EDGES
            and nbytes <= CC_DRIVER_MAX_BYTES
            and dtype in _DRIVER_NODE_TYPES
        ):
            return _driver_cc(e)
        encode_ids = isinstance(dtype, T.StringType) and n >= CC_ENCODE_MIN_EDGES
    if not encode_ids:
        # pass the checksum through: the probe scan doubles as the loop's
        # initial fixed-point state
        return _cc_loop(e, max_iterations, pre_canonical=True, prev=(n, h))

    node_dict = encode_node_dictionary(e)
    enc = (
        e.join(
            node_dict.select(F.col("node").alias("u"), F.col("nid").alias("_eu")), "u"
        )
        .join(
            node_dict.select(F.col("node").alias("v"), F.col("nid").alias("_ev")), "v"
        )
        .select(F.col("_eu").alias("u"), F.col("_ev").alias("v"))
    )
    assign_l = _cc_loop(enc, max_iterations)
    # decode: long -> original id, then re-derive the representative as the
    # min ORIGINAL id per component (the long-space min is an arbitrary
    # member under the dictionary's id assignment)
    dec = assign_l.join(
        node_dict.select(F.col("nid").alias("node"), F.col("node").alias("_orig")),
        "node",
    ).select(F.col("_orig").alias("node"), "cluster_id")
    rep = dec.groupBy("cluster_id").agg(F.min("node").alias("_rep"))
    return dec.join(rep, "cluster_id").select(
        "node", F.col("_rep").alias("cluster_id")
    )


def cluster_records(
    records: DataFrame,
    scored: DataFrame,
    threshold_col: str = "is_edge",
    max_iterations: int = 20,
) -> DataFrame:
    """Full stage 4: scored pairs -> entity_clusters(url, cluster_id).

    Singleton records (no accepted edge) become their own cluster.
    """
    edges = scored.where(F.col(threshold_col)).select(
        F.col("url_a").alias("u"), F.col("url_b").alias("v")
    )
    assign = connected_components(edges, max_iterations)
    out = (
        records.select(F.col("url"))
        .join(assign.withColumnRenamed("node", "url"), "url", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("url")))
    )
    return out
