"""The ``q`` layer: analytics leaves of the query registry over a seeded
documents table, run by a traced ``crawl_resume`` after its crawl, in the
same JVM.

Input (from the seed): ``docs.write_documents`` — 1000 documents (300 at the
smoke scale) with planted exact and near duplicates — written as
``documents.parquet`` into the run's work dir, which the leaves read as
their ``sf_dir``. The leaves are the dedup (exact, MinHash-LSH in its
oracle-portable md5 mode and in bench.py's fast mode) and decontamination
(pipeline) operators, which the frontier round never touches. The seed
permutes the leaf order.

One pass runs every leaf once, each forced by ``collect()`` (the outputs
are a few thousand rows at most, so the timed result is also the checked
one) and followed by ``clearCache``, as in bench.py.

Check, every leaf: its rows equal the registry's DuckDB oracle on the same
file (untimed), and the fast-mode MinHash pairs equal the oracle's md5-mode
pairs.
"""

from __future__ import annotations

import math
import os
import random

import harness
from docs import write_documents

N_DOCS = {"full": 1000, "smoke": 300}
LEAVES = ("dedup_exact", "dedup_minhash_lsh", "dedup_minhash_fast", "decontam_eval3")
# the oracle a leaf's rows must equal; fast-mode MinHash recovers the same
# verified pairs as the md5 mode
ORACLE_OF = {name: name for name in LEAVES} | {"dedup_minhash_fast": "dedup_minhash_lsh"}


def setup_documents(b: harness.Bench) -> str:
    sf_dir = os.path.join(os.environ["PERFBENCH_WORK"], "sf")
    write_documents(N_DOCS[b.scale], b.seed, sf_dir)
    return sf_dir


def leaf(name: str):
    import bench
    from warcbase_spark.queries import QUERIES

    return bench.BENCH_ONLY.get(name) or QUERIES[name]


def multiset(cols: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive form of a result: sorted column names and sorted
    rows of strings, floats to 9 significant digits."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def expected(sf_dir: str) -> dict:
    import duckdb

    from warcbase_spark.queries import ORACLES

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    out = {}
    for name in set(ORACLE_OF.values()):
        rel = con.sql(ORACLES[name])
        out[name] = multiset(rel.columns, rel.fetchall())
    con.close()
    return out


def run_pass(b: harness.Bench, sf_dir: str) -> int:
    """One pass over the leaves in seed order; returns how many leaves'
    results differ from their oracle."""
    order = list(LEAVES)
    random.Random(b.seed).shuffle(order)
    got = {}
    with b.span("q"):
        for name in order:
            with b.span(f"q.{name}"):
                df = leaf(name)(b.spark, sf_dir)
                rows = df.collect()
            got[name] = multiset(df.columns, [tuple(r) for r in rows])
            b.spark.catalog.clearCache()
    exp = expected(sf_dir)
    return sum(got[name] != exp[ORACLE_OF[name]] for name in LEAVES)


def layers(b: harness.Bench, snap: dict) -> dict:
    """``q.*`` of the pass: each leaf's time and shuffle, their geometric
    mean, and the layer's engine work."""
    out = {"q.pass_s": b.durations("q")[0]}
    leaf_s = []
    for name in LEAVES:
        took = b.durations(f"q.{name}")[0]
        leaf_s.append(took)
        out[f"q.{name}_s"] = took
        jobs = harness.in_groups(snap["jobs"], f"q.{name}")
        out[f"q.{name}.shuffle_mb"] = harness.job_stats(snap, jobs)["shuffle_mb"]
    out["q.geomean_s"] = math.exp(sum(math.log(x) for x in leaf_s) / len(leaf_s))
    out.update(harness.layer_metrics(
        snap, "q", harness.in_groups(snap["jobs"], *(f"q.{n}" for n in LEAVES))))
    return out
