"""Physical-plan audits: the properties that matter at 100 TB must be
visible in the plan, not assumed — filter pushdown reaching the parquet
scan, column pruning, broadcast joins for small dims, Arrow-only Python,
no cartesian products in the frontier path."""

import pytest
from pyspark.sql import functions as F

from warcbase_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q1_pushdown_and_pruning(spark):
    df = QUERIES["tpch_q1"](spark, SF)
    df.collect()  # AQE: codegen spans only appear in the final executed plan
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan must not read all 16 lineitem columns
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read_schema
    # whole-stage codegen engaged: '*' markers on the final-plan operators
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "* HashAggregate" in buf.getvalue()


def test_tpch_q3_broadcasts_customer(spark):
    plan = plan_of(QUERIES["tpch_q3_top10"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # orderBy+limit fused, no global sort


def test_frontier_plan_no_cartesian_no_batch_python(spark):
    plan = plan_of(QUERIES["frontier_schedule_r0"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # per-row Python is forbidden


def test_canonicalize_is_arrow_only(spark):
    from warcbase_spark.frontier.crawl import canonicalize_candidates

    urls = spark.range(10).select(
        F.concat(F.lit("http://h"), F.col("id").cast("string"), F.lit(".com/p.html")).alias("url")
    )
    plan = plan_of(canonicalize_candidates(urls))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    # exactly one Python stage: the struct-returning canonicalizer, an
    # arrow_udf (pa.Array in and out, no pandas conversion)
    assert plan.count("ArrowEvalPython") == 1
    from pyspark.rdd import PythonEvalType

    from warcbase_spark.functions.urls import canon_struct_udf

    assert canon_struct_udf.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF


def test_dedup_probe_is_jvm_side(spark):
    """The JVM bloom path must add NO Python stage beyond canonicalize."""
    from warcbase_spark.frontier.crawl import canonicalize_candidates
    from warcbase_spark.operators.seen import build_bloom_jvm, probe_bloom_jvm

    urls = spark.range(100).select(
        F.concat(F.lit("http://h"), F.col("id").cast("string"), F.lit(".com/p.html")).alias("url")
    )
    cand = canonicalize_candidates(urls)
    bloom = build_bloom_jvm(cand, 100)
    plan = plan_of(probe_bloom_jvm(cand, bloom))
    assert plan.count("ArrowEvalPython") == 1  # still just the canonicalizer
    assert "BatchEvalPython" not in plan


def test_cuckoo_probe_is_cogrouped(spark, monkeypatch):
    """The cuckoo regime probes its shard tables cogrouped: no filter is
    broadcast and no pandas UDF is chained after the canonicalizer, so the
    canonicalizer stays the only ArrowEvalPython in the probe plan."""
    from warcbase_spark.frontier.crawl import canonicalize_candidates
    from warcbase_spark.operators import seen as seen_mod
    from warcbase_spark.operators.seen import build_seen_filter, dedup_against_seen

    monkeypatch.setattr(seen_mod, "SEEN_BLOOM_MAX_KEYS", 0)

    urls = spark.range(100).select(
        F.concat(F.lit("http://h"), F.col("id").cast("string"), F.lit(".com/p.html")).alias("url")
    )
    cand = canonicalize_candidates(urls)
    seen = spark.range(0, 100, 3).select(
        F.concat(F.lit("com.h"), F.col("id").cast("string"), F.lit(")/p.html")).alias("url_key")
    )
    reg = []
    _, probed = dedup_against_seen(
        spark, cand, seen, build_seen_filter(seen, 100), cache_registry=reg
    )
    plan = plan_of(probed)  # the cached probe pass, shown as its inner plan
    for df in reg:
        df.unpersist()
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("ArrowEvalPython") == 1  # still just the canonicalizer
    assert "BatchEvalPython" not in plan


def test_scheduler_broadcasts_politeness_and_winners(spark):
    from warcbase_spark.operators.scheduler import schedule_round

    cand = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 10).cast("string")).alias("host"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("priority"),
    )
    politeness = spark.createDataFrame([("*", 5)], "host string, budget int")
    scheduled, spilled = schedule_round(cand, politeness)
    for df in (scheduled, spilled):
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p


@pytest.mark.parametrize("name", ["domain_links_monthly", "dedup_minhash_lsh", "ann_lsh_topk"])
def test_no_per_row_python_anywhere(spark, name):
    plan = plan_of(QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["url_dictionary", "pack_sequences", "global_shuffle_pos", "schedule_round_combined"]
)
def test_global_order_no_single_task_window(spark, name):
    """Global order (dense ids, token offsets, shuffle positions, the crawl
    seq) must NOT plan a partition-less WindowExec — the reference's
    1-reducer FST funnel (UrlMappingMapReduceBuilder.java:254) — nor any
    ``Exchange SinglePartition``: every Window is partitioned by its
    bucket, and the bucket offsets come from the driver as literals."""
    import re

    if name == "schedule_round_combined":
        from warcbase_spark.operators.scheduler import schedule_round_combined

        cand = spark.range(200).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key"),
            F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
            (F.col("id") % 3).cast("int").alias("priority"),
        )
        pol = spark.createDataFrame([("*", 7)], "host string, budget int")
        df = schedule_round_combined(cand, pol)
    else:
        df = QUERIES[name](spark, SF)
    df.collect()  # AQE: the final plan, with every stage it ran
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    # WindowExec prints "Window [exprs], [partition spec], [order spec]",
    # and drops the middle group when it is empty
    windows = re.findall(r"Window \[.*", plan)
    assert windows, plan
    for w in windows:
        assert re.fullmatch(r"Window \[[^\]]*\], \[[^\]]+\], \[[^\]]*\]", w.strip()), w
    if name == "url_dictionary":
        # ids are a dense 1..N permutation in url_key order
        rows = df.orderBy("id").collect()
        assert [r["id"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [r["url_key"] for r in rows]
        assert keys == sorted(keys)


def test_ivf_cell_partitioned_store_prunes(spark):
    """The IVF docstrings claim 'cell is the vector table's partition key
    at cluster scale' — prove the shape: store embeddings partitioned by
    their IVF cell, and a point lookup's `cell IN (...)` filter must reach
    the scan as a PARTITION filter (only nprobe of n_cells directories
    read), not a post-scan row filter."""
    import shutil

    from warcbase_spark.operators.similarity import ivf_cell_np_udf, ivf_centroids, quantize_q

    path = "/tmp/warcbase_spark_testfix/emb_by_cell"
    shutil.rmtree(path, ignore_errors=True)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cell = ivf_cell_np_udf(ivf_centroids(16, 64, 13))(quantize_q(F.col("embedding")))
    emb.withColumn("cell", cell).write.partitionBy("cell").parquet(path)
    try:
        store = spark.read.parquet(path)
        probe = store.where(F.col("cell").isin([3, 7]))
        plan = plan_of(probe)
        assert "PartitionFilters" in plan
        seg = plan.split("PartitionFilters", 1)[1][:120]
        assert "cell" in seg  # the IN filter prunes directories, pre-scan
        # read-side proof via the executed scan's OWN metrics: numFiles must
        # equal the two probed cells' file count, not the whole table's
        # (inputFiles() can't show this — it resolves the unpruned relation)
        probe.collect()
        import os as _os

        def _nfiles(d):
            return sum(1 for f in _os.listdir(f"{path}/{d}") if f.startswith("part-"))

        expect_files = _nfiles("cell=3") + _nfiles("cell=7")
        total_files = sum(
            _nfiles(d) for d in _os.listdir(path) if d.startswith("cell=")
        )
        leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
        scanned = None
        for i in range(leaves.size()):
            node = leaves.apply(i)
            if "FileScan" in node.nodeName() or "Scan parquet" in node.nodeName():
                scanned = node.metrics().apply("numFiles").value()
        assert scanned == expect_files, f"scan read {scanned} files, expected {expect_files}"
        assert expect_files < total_files  # pruning actually skipped dirs
    finally:
        shutil.rmtree(path, ignore_errors=True)
