"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the baseline (queries.embedding_topk_cosine);
these operators add the SCALE paths:

- seeded random-hyperplane LSH (``hyperplane_np_udf``): n_bits sign bits of
  ±1-hyperplane projections (Charikar SimHash for cosine; Achlioptas-style
  ±1 entries so the projection is an integer dot product). Hyperplanes are
  drawn from a seeded PRNG at plan-build time, so the DuckDB oracle
  (``hyperplane_bucket_sql``) mirrors the exact same planes; the dot
  products run in integer fixed-point (``quantize_q``: round(x·1e6) per
  component) so the SIGN never diverges between engines on floating-point
  fold order.
- ``n_bits`` scales with n (bucket occupancy ≈ n/2^n_bits) and multi-table
  probing (``n_tables`` seeds) recovers recall lost to unlucky planes.
- IVF: a vector's cell is its argmax integer centroid score
  (``ivf_cell_np_udf``), a query searches its ``nprobe`` best cells
  (``ivf_probes_np_udf``); centroids are seeded or trained
  (``ivf_train_kmeans``).
- hot-bucket guard: candidate joins drop (or cap) buckets above
  ``bucket_cap`` rows, so a degenerate corpus (everything in one bucket)
  can never go quadratic — the VERDICT-r1 100 TB scale requirement.
- one kernel per operator: the fixed-point vector is materialized once per
  row in the JVM (the only rounding), and every bucket / cell / probe
  kernel is one exact int64 numpy matmul per Arrow batch
  (``_quantized_batch_udf``), bit-identical to the DuckDB mirrors. A row
  whose vector is NULL or not ``dim`` long gets NULL, so it never joins.
  The per-pair cosine stays a JVM Column fold (zip_with/aggregate), rounded
  at a fixed decimal for engine-portable comparison.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(emb) -> Column:
    return F.transform(emb, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def quantize_q(emb) -> Column:
    """The fixed-point embedding used for ALL integer bucket and centroid
    arithmetic: round(x * 1e6) as long — exact 64-bit dots (|q| ≲ 5e6, dim
    64 → dots ≤ ~1.6e15, inside both long and float64-exact-integer range,
    so numpy int64 and DuckDB list_dot_product agree bit-for-bit)."""
    return F.transform(emb, lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"))


def _quantized_batch_udf(dim: int, return_type: str, kernel):
    """Arrow-vectorized kernel over pre-quantized (``quantize_q``) vectors,
    one native numpy call per batch instead of an interpreted fold per row:
    the batch's rows are stacked into one (rows, dim) int64 matrix and
    ``kernel`` maps it to one result per row. A row whose vector is NULL or
    not ``dim`` long gets NULL instead of failing the whole batch."""
    import numpy as np

    @F.pandas_udf(return_type)
    def run(qs: pd.Series) -> pd.Series:
        ok = np.fromiter((q is not None and len(q) == dim for q in qs), bool, len(qs))
        out = np.full(len(qs), None, dtype=object)
        if ok.any():
            res = pd.Series(kernel(np.stack(qs[ok].to_numpy()).astype(np.int64, copy=False)))
            if ok.all():
                return res
            out[ok] = res.to_numpy()
        return pd.Series(out)

    return run


def hyperplane_signs(n_bits: int, dim: int, seed: int) -> list[list[int]]:
    """The seeded ±1 hyperplane matrix — shared by the Spark kernel and
    the SQL oracle so both engines hash with identical planes."""
    rng = random.Random(seed)
    return [[rng.choice((1, -1)) for _ in range(dim)] for _ in range(n_bits)]


def hyperplane_bucket_sql(emb_sql: str, n_bits: int = 8, dim: int = 64, seed: int = 7) -> str:
    """DuckDB mirror of ``hyperplane_np_udf`` over the same seeded planes."""
    parts = []
    for i, signs in enumerate(hyperplane_signs(n_bits, dim, seed)):
        lits = ", ".join(str(s) for s in signs)
        parts.append(
            f"CASE WHEN list_sum(list_transform(list_zip("
            f"list_transform({emb_sql}, x -> CAST(round(x::DOUBLE * 1e6) AS BIGINT)), "
            f"[{lits}]), p -> p[1] * p[2])) >= 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(parts) + ")"


def hyperplane_np_udf(n_bits: int, dim: int, seed: int):
    """Random-hyperplane LSH bucket of a pre-quantized vector:
    bucket = Σ_i 2^i·[q·s_i ≥ 0] with s_i ∈ {±1}^dim the seeded planes.
    Pure int64 matmul + sign test — exact, so the bucket ids are
    bit-identical to the DuckDB mirror (``hyperplane_bucket_sql``)."""
    import numpy as np

    S = np.asarray(hyperplane_signs(n_bits, dim, seed), dtype=np.int64).T  # (dim, n_bits)
    W = (1 << np.arange(n_bits, dtype=np.int64))
    return _quantized_batch_udf(dim, "int", lambda Q: (((Q @ S) >= 0) @ W).astype("int32"))


def _drop_hot_buckets(e: DataFrame, bucket_cap: int | None, key: str = "bkt") -> DataFrame:
    """Remove rows in buckets larger than ``bucket_cap`` before a bucket
    self-join: the hot set is tiny by construction (≤ n/cap buckets), so a
    broadcast anti-join — no extra full shuffle. Oversized buckets are
    near-identical clusters that exact dedup already collapses; dropping
    them bounds the self-join at Σ min(bucket, cap)² — never quadratic."""
    if bucket_cap is None:
        return e
    hot = (
        e.groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > bucket_cap)
        .select(key)
    )
    return e.join(F.broadcast(hot), key, "left_anti")


def bucketed_neighbors(
    emb_df: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    bucket_cap: int | None = None,
) -> DataFrame:
    """All same-bucket pairs (a < b) with cosine — the LSH candidate join.

    r06 shape (result-identical): the scan is spread (single-rowgroup
    parquet = one task), the fixed-point vector is materialized ONCE per
    row for the bucket kernel, the vector norm is computed once per VECTOR
    below the join instead of once per pair (identical doubles — same ops,
    same order)."""
    from warcbase_spark.functions.layout import spread_scan

    base = spread_scan(emb_df).select(
        F.col(id_col).alias("id"), as_double(F.col(emb_col)).alias("v"),
        quantize_q(F.col(emb_col)).alias("_q"),
    )
    e = base.select(
        "id", "v", hyperplane_np_udf(n_bits, dim, seed)(F.col("_q")).alias("bkt")
    )
    e = e.select("id", "v", "bkt", F.sqrt(dot(F.col("v"), F.col("v"))).alias("_n"))
    e = _drop_hot_buckets(e, bucket_cap)
    a = e.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("_n").alias("na"), "bkt")
    b = e.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("_n").alias("nb"), "bkt")
    return (
        a.join(b, "bkt")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 3
            ).alias("sim"),
        )
    )


def ivf_centroids(n_cells: int, dim: int, seed: int) -> list[list[int]]:
    """Seeded integer centroid matrix for the IVF coarse quantizer — shared
    by the Spark kernels and the SQL oracle (same literals, both engines).
    Integer components in [-1000, 1000] so every assignment dot product is
    exact 64-bit integer arithmetic."""
    rng = random.Random(seed)
    return [[rng.randint(-1000, 1000) for _ in range(dim)] for _ in range(n_cells)]


def ivf_cell_np_udf(cents: list[list[int]]):
    """IVF cell of a pre-quantized vector: argmax centroid score, earliest
    cell on ties. At cluster scale the cell is the PARTITION KEY of the
    vector table (write partitioned/clustered by cell), so an nprobe query
    prunes to nprobe partitions of the scan.

    Bit-exact by construction: the ONLY rounding (quantize_q's
    round(x·1e6)) stays in the JVM; this kernel is a pure int64 matmul +
    argmax. numpy int64 @ int64 is exact at these magnitudes (|dot| ≲
    1.6e15 < 2^63), and ``argmax`` returns the FIRST max — the same
    lowest-cell tie-break as the oracles' ``list_position``. A Catalyst
    HOF fold costs ~5 ms/row for the 16×64 argmax (HOF lambdas are
    CodegenFallback, and the flat expression alternative blows janino's
    64 KB method limit); the numpy batch kernel measures ~µs/row."""
    import numpy as np

    C = np.asarray(cents, dtype=np.int64).T  # (dim, n_cells)
    return _quantized_batch_udf(
        C.shape[0], "int", lambda Q: np.argmax(Q @ C, axis=1).astype("int32")
    )


def ivf_probes_np_udf(cents: list[list[int]], nprobe: int):
    """Probe cells of a pre-quantized query: its top-``nprobe`` cells,
    (score DESC, cell ASC) — ``argsort(-scores, kind='stable')`` keeps the
    ascending-cell order on score ties, the oracles' ranking. Same
    exact-int64 argument as ``ivf_cell_np_udf``."""
    import numpy as np

    C = np.asarray(cents, dtype=np.int64).T
    return _quantized_batch_udf(
        C.shape[0], "array<int>",
        lambda Q: list(np.argsort(-(Q @ C), axis=1, kind="stable")[:, :nprobe].astype("int32")),
    )


def ivf_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 13,
) -> DataFrame:
    """IVF approximate top-k: assign vectors to their argmax centroid cell,
    search only the query's ``nprobe`` best cells, brute-force cosine
    within. The query's probe cells come from a ONE-ROW collect of
    ``ivf_probes_np_udf`` (exact — no float re-derivation on the driver),
    then the candidate filter is a literal ``cell IN (...)`` — the shape
    that becomes partition pruning when the table is stored
    partitioned-by-cell. A query whose vector is NULL or ragged probes no
    cell: the result is empty."""
    from warcbase_spark.functions.layout import spread_scan

    cents = ivf_centroids(n_cells, dim, seed)
    base = spread_scan(emb_df).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(emb_col)).alias("v"),
        quantize_q(F.col(emb_col)).alias("_q"),
    )
    e = base.select(
        "vec_id", "v",
        ivf_cell_np_udf(cents)(F.col("_q")).alias("cell"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("_n"),
    )
    probes = (
        emb_df.filter(F.col(id_col) == query_id)
        .select(ivf_probes_np_udf(cents, nprobe)(quantize_q(F.col(emb_col))).alias("p"))
        .collect()[0]["p"]
    ) or []
    q = e.filter(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"), F.col("_n").alias("qn")
    )
    return (
        e.filter(F.col("cell").isin(probes) & (F.col("vec_id") != query_id))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_n") * F.col("qn")), 3
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def ivf_topk_batch(
    emb_df: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 13,
    centroids: "list[list[int]] | None" = None,
) -> DataFrame:
    """Batch IVF ANN — the shape a training pipeline actually runs
    (retrieval for a FULL query set, not one point lookup): every vector
    gets its argmax cell, every query row (``query_filter``, a predicate
    over any column of ``emb_df``, selects them from the same table) gets
    its nprobe best cells via ``ivf_probes_np_udf``
    (no driver collect anywhere), and candidates meet queries in ONE join
    on ``cell``. Per-query top-k is a window over (sim DESC, vec_id).

    Scale shape: ``cell`` is the vector table's partition key at cluster
    scale, so the join co-locates each query with exactly the nprobe
    partitions it probes; the query side is queries × nprobe rows —
    broadcastable for point/batch lookups, an even hash-shuffle join for
    corpus-vs-corpus retrieval. No per-query work ever touches the
    driver."""
    from warcbase_spark.functions.layout import spread_scan

    v = as_double(F.col(emb_col))
    # the query predicate is evaluated against the caller's columns before
    # the projection narrows them, and carried as a flag
    base = spread_scan(emb_df).select(
        F.col(id_col).alias("vec_id"), v.alias("v"),
        quantize_q(F.col(emb_col)).alias("_q"),
        query_filter.alias("_is_query"),
    )
    # fixed-point vector and norm are materialized ONCE per row; the cell
    # assignment / probe ranking run as Arrow-vectorized int64 matmul
    # batches (bit-exact — see ivf_cell_np_udf); and the per-pair cosine
    # divides by per-VECTOR norms computed below the join — identical
    # doubles (same ops, same order), ~3× fewer dots per pair
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim, seed)
    e = base.select(
        "vec_id", "v",
        ivf_cell_np_udf(cents)(F.col("_q")).alias("cell"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("_n"),
    )
    q = (
        base.filter(F.col("_is_query"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("_qn"),
            F.explode(ivf_probes_np_udf(cents, nprobe)(F.col("_q"))).alias("cell"),
        )
    )
    # broadcast hint: the query side is queries × nprobe rows (tiny for
    # batch lookups), but it sits behind an ArrowEvalPython whose size the
    # planner cannot estimate — without the hint the join can fall back to
    # a 16-key shuffle (one task per probed cell). Corpus-vs-corpus callers
    # with huge query sets should pre-aggregate or shard the query side.
    sims = (
        e.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_n") * F.col("_qn")), 3
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "vec_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "sim")
    )


def ivf_batch_oracle_sql(
    query_mod: int,
    n_cells: int = 16,
    nprobe: int = 2,
    k: int = 5,
    dim: int = 64,
    seed: int = 13,
) -> str:
    """DuckDB twin of ``ivf_topk_batch`` with queries = vec_id divisible by
    ``query_mod``: same seeded centroids, same argmax-cell and probe-cell
    ranking (score DESC, cell ASC), same per-query window top-k."""
    cents = ivf_centroids(n_cells, dim, seed)
    scores = ", ".join(
        "list_sum(list_transform(list_zip(q, [" + ", ".join(str(c) for c in cv)
        + "]), p -> p[1] * p[2]))"
        for cv in cents
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1e6) AS BIGINT)) AS q
      FROM embeddings
    ),
    sc AS MATERIALIZED (SELECT vec_id, v, [{scores}] AS ss FROM e),
    cellt AS MATERIALIZED (
      SELECT vec_id, v, list_position(ss, list_max(ss)) - 1 AS cell, ss FROM sc
    ),
    qprobe AS (
      SELECT qv.vec_id AS query_id, qv.v AS qvec, t.i - 1 AS cell,
             row_number() OVER (PARTITION BY qv.vec_id
                                ORDER BY qv.ss[t.i] DESC, t.i) AS cell_rank
      FROM (SELECT * FROM cellt WHERE vec_id % {query_mod} = 0) qv,
           range(1, {n_cells + 1}) t(i)
    ),
    cand AS (
      SELECT p.query_id, c.vec_id,
             round(list_dot_product(c.v, p.qvec)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(p.qvec, p.qvec))), 3) AS sim
      FROM cellt c JOIN qprobe p ON c.cell = p.cell AND p.cell_rank <= {nprobe}
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, vec_id, sim FROM (
      SELECT cand.*, row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rn
      FROM cand
    ) WHERE rn <= {k}
    """


def ivf_oracle_sql(
    n_cells: int = 16,
    nprobe: int = 2,
    k: int = 10,
    query_id: int = 0,
    dim: int = 64,
    seed: int = 13,
) -> str:
    """DuckDB twin of ``ivf_topk`` over the same seeded centroids: cell =
    first index of the max score (list_position tie-breaks earliest, same
    as numpy's argmax); probe cells ranked (score DESC, cell ASC)."""
    cents = ivf_centroids(n_cells, dim, seed)
    scores = ", ".join(
        "list_sum(list_transform(list_zip(q, [" + ", ".join(str(c) for c in cv)
        + "]), p -> p[1] * p[2]))"
        for cv in cents
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1e6) AS BIGINT)) AS q
      FROM embeddings
    ),
    sc AS MATERIALIZED (SELECT vec_id, v, [{scores}] AS ss FROM e),
    cellt AS MATERIALIZED (
      SELECT vec_id, v, list_position(ss, list_max(ss)) - 1 AS cell, ss FROM sc
    ),
    qcells AS (
      SELECT t.i - 1 AS cell FROM (SELECT ss FROM cellt WHERE vec_id = {query_id}),
           range(1, {n_cells + 1}) t(i)
      ORDER BY ss[t.i] DESC, t.i ASC LIMIT {nprobe}
    )
    SELECT c.vec_id AS vec_id,
           round(list_dot_product(c.v, qv.v)
                 / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv.v, qv.v))), 3) AS sim
    FROM cellt c, (SELECT v FROM cellt WHERE vec_id = {query_id}) qv
    WHERE c.cell IN (SELECT cell FROM qcells) AND c.vec_id != {query_id}
    ORDER BY sim DESC, vec_id LIMIT {k}
    """


def ann_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seeds: tuple[int, ...] = (7, 101),
) -> DataFrame:
    """Approximate top-k for one query: search the union of the query's
    buckets across ``len(seeds)`` independent hash tables (multi-table
    probing recovers recall a single unlucky table loses), broadcast the
    1-row query side."""
    from warcbase_spark.functions.layout import spread_scan

    base = spread_scan(emb_df).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(emb_col)).alias("v"),
        quantize_q(F.col(emb_col)).alias("_q"),
    )
    bkts = [
        hyperplane_np_udf(n_bits, dim, s)(F.col("_q")).alias(f"bkt{t}")
        for t, s in enumerate(seeds)
    ]
    e = base.select("vec_id", "v", *bkts)
    e = e.select("*", F.sqrt(dot(F.col("v"), F.col("v"))).alias("_n"))
    q = e.filter(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"),
        F.col("_n").alias("qn"),
        *[F.col(f"bkt{t}").alias(f"qbkt{t}") for t in range(len(seeds))],
    )
    cond = F.lit(False)
    for t in range(len(seeds)):
        cond = cond | (F.col(f"bkt{t}") == F.col(f"qbkt{t}"))
    return (
        e.join(F.broadcast(q), cond)
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("_n") * F.col("qn")), 3
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF centroid training (quantized Lloyd iterations)
# ---------------------------------------------------------------------------


def _trunc_div(s: int, n: int) -> int:
    """Truncated integer division (toward zero) — the semantics BOTH Spark
    `div` and DuckDB `//` use for integers (verified: -7//2 == -3 in both).
    Python's // floors, so spell it out."""
    q = abs(s) // n
    return q if s >= 0 else -q


def ivf_train_kmeans(
    emb_df: DataFrame,
    n_cells: int = 16,
    iters: int = 4,
    dim: int = 64,
    seed: int = 13,
    emb_col: str = "embedding",
) -> list[list[int]]:
    """Train the IVF coarse quantizer with ``iters`` Lloyd iterations in
    INTEGER fixed-point (k-means over the round(x*1e6) quantized vectors,
    truncated-division means): data-dependent centroids lift recall
    massively over the seeded random quantizer on clustered data (the
    realistic embedding shape) — measured 0.57 → ~1.0 recall@5 at nprobe=1
    on the planted-cluster fixture (tests/test_ann_recall.py).

    All-integer arithmetic is what makes the DuckDB oracle
    (``ivf_kmeans_oracle_sql``) agree bit-for-bit: assignment dots are
    exact int64, means are ``sum div count`` (truncation matches both
    engines), argmax ties break to the lowest cell, empty cells keep their
    previous centroid. A vector that is NULL or not ``dim`` long gets no
    cell and moves no centroid.

    Scale shape: per iteration, one assignment pass (argmax over n_cells
    literal dots — map-only) + one (cell, dim)-keyed aggregate; the ONLY
    driver exchange is the n_cells×dim centroid matrix itself (16×64
    longs here), the irreducible k-means driver state. The quantized
    vectors are cached once, reused across iterations and unpersisted on
    return.
    """
    from warcbase_spark.functions.layout import spread_scan

    # cache, not localCheckpoint: quantize_q is a deterministic map (no
    # sampled boundaries), so eviction-recompute is harmless — and
    # DataFrame.unpersist actually frees cacheManager entries, while
    # localCheckpoint blocks would outlive the call (bench runs this
    # repeatedly; leaked blocks = position-dependent GC pressure).
    # spread_scan first: a single-rowgroup input would otherwise leave the
    # cache (and every Lloyd iteration over it) on ONE partition/core.
    v = spread_scan(emb_df).select(quantize_q(F.col(emb_col)).alias("vi")).cache()
    v.count()
    cents = [list(cv) for cv in ivf_centroids(n_cells, dim, seed)]
    for _ in range(iters):
        # one int64 argmax per Arrow batch (bit-exact, see ivf_cell_np_udf)
        assigned = v.select(ivf_cell_np_udf(cents)(F.col("vi")).alias("cell"), "vi")
        agg = (
            assigned.select("cell", F.posexplode("vi").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # the NULL cell holds the bad vectors; skipped here, not by a
        # Filter, which the optimizer would push below the Project and so
        # run the kernel twice
        for r in agg:
            if r["cell"] is not None:
                cents[r["cell"]][r["pos"]] = _trunc_div(int(r["s"]), int(r["n"]))
    v.unpersist()
    return cents


def ivf_kmeans_oracle_sql(n_cells: int = 16, iters: int = 4, dim: int = 64,
                          seed: int = 13) -> str:
    """DuckDB twin of ``ivf_train_kmeans`` + final assignment histogram:
    the identical quantization, init centroids, argmax tie-break
    (row_number score DESC, cell ASC), truncated-div means, and
    empty-cell carry-forward, unrolled as materialized CTEs (the
    pagerank-oracle pattern)."""
    cents = ivf_centroids(n_cells, dim, seed)
    c0_rows = ", ".join(
        f"({i}, [{', '.join(str(x) for x in cv)}]::BIGINT[])" for i, cv in enumerate(cents)
    )
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, vi, cell FROM (
        SELECT e.vec_id, e.vi, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_dot_product(e.vi, c.ctr) DESC, c.cell) AS rn
        FROM e, {prev} c
      ) WHERE rn = 1
    ),
    u{t} AS (
      SELECT cell, list(d ORDER BY pos) AS ctr FROM (
        SELECT cell, pos, CAST(sum(val) AS BIGINT) // count(*) AS d FROM (
          SELECT a.cell, p.pos, a.vi[p.pos] AS val
          FROM a{t} a, LATERAL (SELECT unnest(range(1, {dim + 1})) AS pos) p
        ) GROUP BY cell, pos
      ) GROUP BY cell
    ),
    c{t} AS MATERIALIZED (
      SELECT p.cell, coalesce(u.ctr, p.ctr) AS ctr
      FROM {prev} p LEFT JOIN u{t} u ON u.cell = p.cell
    )""")
        prev = f"c{t}"
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1e6) AS BIGINT)) AS vi
      FROM embeddings
    ),
    c0 AS MATERIALIZED (SELECT * FROM (VALUES {c0_rows}) AS t(cell, ctr)),{",".join(steps)},
    af AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_dot_product(e.vi, c.ctr) DESC, c.cell) AS rn
        FROM e, {prev} c
      ) WHERE rn = 1
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors, CAST(sum(vec_id) AS BIGINT) AS id_checksum
    FROM af GROUP BY cell
    """
