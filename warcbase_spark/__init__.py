"""warcbase_spark — a from-scratch PySpark-native crawl/frontier analytics engine.

Re-expresses the query and data-processing capabilities of lintool/warcbase
(reference at /root/reference, semantics only — no code is ported) as
idiomatic PySpark: DataFrame/SQL plans optimized by Catalyst, Arrow-vectorized
pandas UDFs for the few operations built-ins cannot express, and an explicit
partitioning/skew strategy designed for a 1000-executor, 100 TB deployment.

Layout:
- ``session``    — tuned SparkSession factory
- ``fixtures``   — deterministic synthetic web corpus generators (seed=42)
- ``functions``  — scalar surface: URL canonicalization (urlToKey), matchbox
                   re-implementations, text analysis, hashing
- ``operators``  — relational/graph/dedup/similarity operators
- ``frontier``   — the URL-frontier + fetch scheduler (Bloom URL-seen,
                   per-host politeness queue, checkpointed round loop)
"""

__version__ = "0.1.0"
