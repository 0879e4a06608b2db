"""Approximate-nearest-neighbor search over an embedding column.

Two strategies:
- brute_force_topk: exact cosine top-k per query (the correctness
  baseline; a crossJoin, O(Q x N) -- use only for small query sets or as
  the oracle for the ANN path);
- lsh_topk: random-hyperplane LSH with multi-probe bucketing -- the scale
  path: queries only compare against candidates sharing a hash bucket in
  at least one of ``num_tables`` independent tables. All native
  expressions; hyperplanes are seeded plan literals.

At 100 TB the brute-force path is a deliberate non-starter (quadratic);
lsh_topk's cost is bounded by bucket sizes, which are capped.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crocodile_spark.functions.similarity import cosine_similarity


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "cand_id",
    emb: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query over the full corpus. Both sides are
    width-guarded: a crossJoin's parallelism is the left side's partition
    count, so a 1-partition local scan would run the whole O(QxN) cosine
    sweep on one core. ``downstream_heavy``: the crossJoin's cost is
    quadratic in the input, so the spread byte floor must not skip tiny
    scans here (ADVICE r4)."""
    from crocodile_spark.operators.blocking import spread

    q = spread(queries, downstream_heavy=True).select(
        F.col(query_id), F.col(emb).alias("_qv")
    )
    c = corpus.select(F.col(corpus_id), F.col(emb).alias("_cv"))
    sims = (
        q.crossJoin(c)
        .withColumn("cosine", cosine_similarity(F.col("_qv"), F.col("_cv")))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_table_buckets(
    emb_col: str, dim: int, planes_per_table: int, num_tables: int, seed: int
):
    """array<string> of per-table LSH bucket keys ``t<i>:<sign bits>``.

    OR-construction over ``num_tables`` independent AND-constructions of
    ``planes_per_table`` random hyperplanes: two vectors are candidates if
    ALL sign bits agree in AT LEAST ONE table. Planes are seeded numpy
    normals shipped as plan literals (broadcast-equivalent); table t uses
    seed + 1000*t. Computing every table in one projection lets callers
    explode (table, bucket) once instead of rescanning the input per table.
    """
    import numpy as np

    def sign_bit(p):
        dot = F.aggregate(
            F.zip_with(
                F.col(emb_col),
                F.array(*[F.lit(float(x)) for x in p]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    keys = []
    for t in range(num_tables):
        rng = np.random.default_rng(seed + 1000 * t)
        planes = rng.standard_normal((planes_per_table, dim))
        keys.append(
            F.concat(
                F.lit(f"t{t}:"), *[sign_bit(planes[i]) for i in range(planes_per_table)]
            )
        )
    return F.array(*keys)


def embedding_dim(df: DataFrame, emb: str) -> int | None:
    """Driver-side dim probe (one row of metadata, not data-scale).
    Skips null embeddings -- the first row of a dirty corpus may be null
    and the probe must return the dim of the valid population."""
    dim_row = (
        df.where(F.col(emb).isNotNull())
        .select(F.size(F.col(emb)).alias("d"))
        .first()
    )
    return None if dim_row is None else int(dim_row["d"])


def _batch_matrix(lists: list, dim: int):
    """(mask, M) for an Arrow batch of embeddings that may contain nulls
    or wrong-width rows. Fast path: one clean ``np.array`` over the whole
    batch (the overwhelmingly common case -- zero extra cost). Fallback on
    any conversion error: per-row validation, invalid rows masked out so
    the caller emits null for them instead of killing the job (the native
    HOF twin degrades to a null dot on the same inputs -- the Arrow path
    must not be stricter than the plan it mirrors)."""
    import numpy as np

    try:
        M = np.array(lists, dtype=np.float64)
        if M.ndim == 2 and M.shape[1] == dim:
            return np.ones(len(lists), dtype=bool), M
    except (TypeError, ValueError):
        pass
    mask = np.zeros(len(lists), dtype=bool)
    rows = []
    for i, v in enumerate(lists):
        try:
            a = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            continue
        if a.ndim == 1 and a.shape[0] == dim:
            mask[i] = True
            rows.append(a)
    M = np.vstack(rows) if rows else np.empty((0, dim), dtype=np.float64)
    return mask, M


def hyperplane_table_buckets_udf(
    dim: int, planes_per_table: int, num_tables: int, seed: int,
    exact: bool = False,
):
    """Arrow-vectorized twin of ``hyperplane_table_buckets``: one numpy
    matmul per Arrow batch instead of per-plane higher-order-function loops
    (Spark HOFs are CodegenFallback, i.e. interpreted per row). Identical
    keys up to fp summation order -- a sign can only differ when
    |dot| ~ 1e-13, which seeded gaussian planes never produce in practice.

    ``exact=True`` (r8) removes even that caveat: plane dots are computed
    as a LEFT FOLD over the dimension axis (see functions.emb_kernels),
    bit-identical to the sequential summation of the native form and the
    DuckDB oracle, NaN dots sign as ``>= 0`` true (Spark's NaN ordering),
    and invalid rows (null / wrong width) produce the all-zeros bit
    pattern per table exactly as the native ``when(dot >= 0, ...)
    .otherwise("0")`` law does when nulls null the dot. The oracle-gated
    queries use this mode; the matmul stays the production default.

    This is the hot path at scale (dim 768 x dozens of planes: a (batch x
    dim) @ (dim x planes) matmul); the native-expression twin remains for
    plan-gated tests and UDF-free deployments.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from crocodile_spark.functions.emb_kernels import fold_dots

    mats = []
    luts = []
    powers = 2 ** np.arange(planes_per_table - 1, -1, -1)
    for t in range(num_tables):
        rng = np.random.default_rng(seed + 1000 * t)
        mats.append(rng.standard_normal((planes_per_table, dim)))
        luts.append(
            np.array(
                [f"t{t}:{i:0{planes_per_table}b}" for i in range(2 ** planes_per_table)],
                dtype=object,
            )
        )
    allplanes = np.vstack(mats)  # (num_tables * ppt, dim)

    @pandas_udf("array<string>")
    def buckets(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        mask, M = _batch_matrix(emb.tolist(), dim)
        if exact:
            dots = fold_dots(M, allplanes)
            signs = (dots >= 0) | np.isnan(dots)
        else:
            signs = (M @ allplanes.T) >= 0  # (n_valid, num_tables * ppt)
        cols = []
        for t in range(num_tables):
            seg = signs[:, t * planes_per_table : (t + 1) * planes_per_table]
            cols.append(luts[t][seg @ powers])
        stacked = np.stack(cols, axis=1) if len(M) else np.empty((0, num_tables))
        out = np.full(len(mask), None, dtype=object)
        valid = np.empty(len(stacked), dtype=object)
        valid[:] = [row for row in stacked]
        out[mask] = valid
        if exact and not mask.all():
            # native law: a null/width-mismatched row nulls every dot, and
            # when(null >= 0).otherwise("0") yields the all-zeros pattern
            zeros = [lut[0] for lut in luts]
            for i in np.flatnonzero(~mask):
                out[i] = list(zeros)
        return pd.Series(list(out))

    return buckets


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "cand_id",
    emb: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 12,
    seed: int = 42,
    max_bucket_size: int = 4096,
    arrow: bool | str = True,
) -> DataFrame:
    """ANN top-k: single-pass random-hyperplane LSH bucket join, exact
    cosine within candidates, OR over ``num_tables`` independent tables.

    Single-pass shape: all table buckets come from ONE projection and one
    explode on each side (not a per-table union, which would rescan the
    corpus and recount buckets ``num_tables`` times); the bucket join
    carries ids only, vectors are re-joined after the candidate-pair dedup
    so the per-table replication never shuffles the embedding payload.
    Recall grows with num_tables; cost is Sum(bucket pair volume), capped.
    ``arrow=True`` computes buckets with the vectorized matmul UDF (the
    scale path); ``arrow="exact"`` uses the bit-exact fold kernels
    (oracle-parity Arrow path, r8); False uses the native-expression twin
    end to end (UDF-free deployments).
    """
    from crocodile_spark.operators.blocking import cap_blocks, spread

    dim = embedding_dim(corpus, emb)
    if dim is None:
        raise ValueError("empty corpus")
    if arrow:
        buckets = hyperplane_table_buckets_udf(
            dim, num_planes, num_tables, seed, exact=(arrow == "exact")
        )(F.col(emb))
    else:
        buckets = hyperplane_table_buckets(emb, dim, num_planes, num_tables, seed)

    qb = spread(queries).select(F.col(query_id), F.explode(buckets).alias("bucket"))
    # (id, bucket) feeds the size count AND the bucket join: materialize so
    # the corpus-side hyperplane projection runs once, not per consumer.
    cb = (
        spread(corpus)
        .select(F.col(corpus_id), F.explode(buckets).alias("bucket"))
        .localCheckpoint(eager=True)
    )
    cb = cap_blocks(cb, max_bucket_size, key="bucket")
    pairs = (
        qb.join(cb, "bucket")
        .select(query_id, corpus_id)
        .dropDuplicates([query_id, corpus_id])
    )
    sims = (
        pairs.join(queries.select(F.col(query_id), F.col(emb).alias("_qv")), query_id)
        .join(corpus.select(F.col(corpus_id), F.col(emb).alias("_cv")), corpus_id)
        .withColumn("cosine", _exact_cosine(arrow))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _exact_cosine(arrow):
    """The in-bucket exact-cosine re-rank column: the bit-exact Arrow fold
    kernel whenever a Python stage is already in the plan (arrow truthy --
    the interpreted HOF was the dominant exec cost of the re-rank, guide
    section 4.2), the native HOF twin for UDF-free plans (arrow=False).
    Identical values either way (emb_kernels fold law)."""
    if arrow:
        from crocodile_spark.functions.emb_kernels import cosine_fold

        return cosine_fold(F.col("_qv"), F.col("_cv"))
    return cosine_similarity(F.col("_qv"), F.col("_cv"))


def seeded_random_centroids(dim: int, n_centroids: int, seed: int):
    """Untrained random coarse quantizer (seeded gaussians): partitions the
    space like random projections. Used by the driver query so the DuckDB
    oracle can inline identical centroid literals without needing data at
    SQL-generation time; real deployments call train_ivf_centroids."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_centroids, dim))


def train_ivf_centroids(
    corpus: DataFrame,
    emb: str = "embedding",
    id_col: str | None = None,
    n_centroids: int = 16,
    sample_rows: int = 1024,
    iters: int = 5,
    seed: int = 42,
):
    """Deterministic coarse quantizer: Lloyd k-means on a bounded seeded
    sample, run driver-side in numpy. Centroids are model metadata (tiny),
    not data -- the collect is n_centroids x dim floats, the same posture
    as broadcast scorer weights.

    Sampling (r6, VERDICT r5 finding #2): rows are taken in xxhash64(id)
    order, so the physical plan is TakeOrderedAndProject -- a
    partition-local top-K heap with only K rows per partition reaching
    the driver merge, NOT a corpus-wide sort shuffle -- and the hash
    order makes the K-row sample an unbiased deterministic draw under
    any id distribution (plain id order sampled the K smallest ids:
    at 100 TB that is one tenant/shard, a badly skewed quantizer)."""
    import numpy as np

    cols = corpus.columns
    order = id_col if id_col and id_col in cols else cols[0]
    sample = [
        r["v"]
        for r in corpus.select(F.col(emb).alias("v"), F.col(order).alias("o"))
        .orderBy(F.xxhash64(F.col("o").cast("string")))
        .limit(sample_rows)
        .collect()
    ]
    X = np.array(sample, dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d = X @ C.T  # cosine-ish assignment on raw dots (vectors ~unit here)
        a = d.argmax(axis=1)
        for j in range(len(C)):
            m = X[a == j]
            if len(m):
                C[j] = m.mean(axis=0)
    return C


def _ivf_dots_struct(emb: str, centroids):
    """array<struct<d, cell>> of per-centroid dots -- the one shared law
    for corpus assignment AND query probing (ties break to the larger
    cell id on both, mirrored in the DuckDB oracle)."""
    def dot(c):
        return F.aggregate(
            F.zip_with(
                F.col(emb),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.array(
        *[
            F.struct(dot(c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )


def _ivf_cell(emb: str, centroids) -> "F.Column":
    """argmax-dot centroid id as a native expression."""
    return F.array_max(_ivf_dots_struct(emb, centroids))["cell"]


def ivf_probe_cells_udf(centroids, n_probe: int, exact: bool = False):
    """Arrow-vectorized twin of the native IVF cell law (VERDICT r4 #3):
    one numpy matmul per Arrow batch instead of n_centroids plan-literal
    higher-order-function dots (Spark HOFs are CodegenFallback --
    interpreted per row -- and at 768-dim x 1024 centroids the literal
    plan itself becomes megabytes). Returns the ``n_probe`` best cells,
    dot-descending; ``n_probe=1`` is corpus assignment (argmax).

    Tie law mirrors the native form exactly: the native assignment is
    ``array_max(struct<d, cell>)`` (ties -> larger cell) and the native
    probe order is ``reverse(array_sort(...))`` (d desc, then cell desc).
    Here the batch matmul's columns are reversed before a stable argsort
    of -dot, so equal dots also resolve to the larger cell first. Dots
    differ from the HOF form only in fp summation order -- a cell choice
    can only flip when two |dot|s collide within ~1e-13, which seeded
    gaussian centroids never produce in practice (same argument as
    hyperplane_table_buckets_udf); the exact-cosine re-rank after the
    bucket join is unaffected either way.

    ``exact=True`` (r8) removes the caveat entirely: dots are computed as
    a left fold over the dimension axis (functions.emb_kernels.fold_dots),
    bit-identical to the plan-literal HOF dots and the DuckDB
    ``list_inner_product`` replay -- the mode the oracle-gated query uses
    (the HOF form cost ~2 s of plan time + ~3 s interpreted exec at
    sf0.1; the fold kernel is plan-tiny and batch-vectorized).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from crocodile_spark.functions.emb_kernels import fold_dots

    C = np.asarray(centroids, dtype=np.float64)
    n_cells = len(C)
    take = min(n_probe, n_cells)

    @pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        mask, M = _batch_matrix(emb.tolist(), C.shape[1])
        dots = fold_dots(M, C) if exact else M @ C.T  # (n_valid, n_cells)
        # reverse columns so a stable argsort of -dot puts the LARGER
        # original cell first among equal dots
        order_rev = np.argsort(-dots[:, ::-1], axis=1, kind="stable")
        cells = (n_cells - 1 - order_rev[:, :take]).astype(np.int32)
        out = np.full(len(mask), None, dtype=object)
        valid = np.empty(len(cells), dtype=object)
        valid[:] = [row for row in cells]
        out[mask] = valid
        return pd.Series(list(out))

    return probes


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "cand_id",
    emb: str = "embedding",
    arrow: bool | str = True,
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their argmax-dot centroid cell;
    each query probes its ``n_probe`` best cells; exact cosine ranks within
    the probed candidates. Complements lsh_topk as the brief's second
    scale path -- cost ~ n_probe/n_centroids of brute force.

    ``arrow=True`` (default, the scale path) computes cell assignment and
    probes with one batched numpy matmul (ivf_probe_cells_udf);
    ``arrow="exact"`` uses the bit-exact fold kernels -- identical results
    to the plan-literal HOF form at a fraction of its plan+exec cost, the
    mode the driver gate query uses for DuckDB oracle replay (r8); False
    keeps the fully native HOF form for UDF-free deployments -- same
    split as lsh_topk."""
    from crocodile_spark.operators.blocking import spread

    if arrow:
        exact = arrow == "exact"
        assign = ivf_probe_cells_udf(centroids, 1, exact=exact)
        probe = ivf_probe_cells_udf(centroids, n_probe, exact=exact)
        cb = spread(corpus).select(
            F.col(corpus_id),
            F.element_at(assign(F.col(emb)), 1).cast("int").alias("cell"),
        )
        qb = spread(queries).select(
            F.col(query_id), F.explode(probe(F.col(emb))).alias("cell")
        )
    else:
        cb = spread(corpus).select(
            F.col(corpus_id), _ivf_cell(emb, centroids).alias("cell")
        )
        probes = F.slice(
            F.reverse(F.array_sort(_ivf_dots_struct(emb, centroids))), 1, n_probe
        )
        qb = spread(queries).select(
            F.col(query_id),
            F.explode(F.transform(probes, lambda s: s["cell"])).alias("cell"),
        )
    pairs = (
        qb.join(cb, "cell")
        .select(query_id, corpus_id)
        .dropDuplicates([query_id, corpus_id])
    )
    sims = (
        pairs.join(queries.select(F.col(query_id), F.col(emb).alias("_qv")), query_id)
        .join(corpus.select(F.col(corpus_id), F.col(emb).alias("_cv")), corpus_id)
        .withColumn("cosine", _exact_cosine(arrow))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def recall_at_k(ann: DataFrame, exact: DataFrame, query_id: str = "query_id",
                corpus_id: str = "cand_id") -> float:
    """Fraction of exact top-k pairs recovered by the ANN result."""
    hit = exact.join(ann, [query_id, corpus_id], "left_semi").count()
    total = exact.count()
    return hit / total if total else 1.0
