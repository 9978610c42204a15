"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the configuration below is the
one we would ship to a real multi-executor cluster too (AQE on, skew-join on,
Arrow on).  ``spark.sql.shuffle.partitions`` defaults to the core count in
local mode — on a cluster it should be ~2-3x total cores; AQE coalesces the
excess at runtime either way.

The whole-stage codegen cache (``spark.sql.codegen.cache.maxEntries``, a
static conf, so it is fixed here before the session starts) is sized well
above one crawl round's working set. A ``FrontierCrawl`` round generates
about 150 distinct classes; at Spark's default of 100 entries the LRU
evicts them before the next round asks again, and every round would
recompile them all in Janino (and JIT the new classes again). With room for them, a
steady-state round compiles only the handful of classes that inline the
round number as a literal.

In-memory caches are stored uncompressed
(``spark.sql.inMemoryColumnarStorage.compressed=false``), a choice measured
on the frontier round's caches (the seen probe pass, the crawl's joined
round frame, a round's candidates and fresh rows). Each is written once,
read one to three times within the same second, and dropped. Compressing
one runs a statistics pass over every column of every cached batch
(``gatherCompressibilityStats``, 26% of the executor CPU samples of warm
340k-URL scheduler rounds), yet the wide columns (``url``, ``url_key``) are
unique per row, so their dictionary is rejected and they are stored raw
anyway: the 340k-row candidate cache is 33.6 MB compressed against 38.5 MB
uncompressed. The session-wide default also reaches caches that are read
many times or hold narrow id columns. PageRank's edges and BFS's links
took no less CPU uncompressed at sf0.1 and grew 2.6-2.8x; the training
pipeline's shingle and signature caches are not measured. ``extra_conf``,
or setting this runtime conf while a cache is built, turns compression
back on.

The driver heap defaults to 60% of the machine's memory (capped at 48g): in local mode the driver JVM is the whole engine, and a heap bigger
than the machine lets it grow until the kernel's OOM killer ends it.
``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000
DRIVER_MEM_FRACTION = 0.6
DRIVER_MEM_CAP_MB = 48 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized to this machine: 60% of MemTotal,
    capped at 48g, or the cap where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(int(total_kb * DRIVER_MEM_FRACTION) // 1024, DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "warcbase_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; anything else → leave AQE room
        shuffle_partitions = cpus if master.startswith("local") else 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill scratch space. On this sandbox the virtio disk suffers
    # bursty host-side throttling (co-tenant I/O), which serializes shuffle
    # writes and wrecks scaling measurements; a real cluster node has local
    # NVMe. SPARK_GRAFT_LOCAL_DIR=/dev/shm/... puts scratch on tmpfs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
