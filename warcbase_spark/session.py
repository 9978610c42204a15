"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the configuration below is the
one we would ship to a real multi-executor cluster too (AQE on, skew-join on,
Arrow on).  ``spark.sql.shuffle.partitions`` defaults to the core count in
local mode — on a cluster it should be ~2-3x total cores; AQE coalesces the
excess at runtime either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
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
