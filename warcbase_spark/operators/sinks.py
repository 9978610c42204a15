"""Sinks (SURVEY §2.1 S7/S8).

The reference writes tab-delimited / JSON text part files
(ExtractEntities.scala:66, NERCombinedJson.scala:102, ExtractGraph.scala:87-88),
merges part dirs driver-side (NERCombinedJson.partDirToFile,
NERCombinedJson.scala:32-60), and emits Gephi GDF from collected edges
(WriteGDF.scala:37-50). Our equivalents are DataFrame writers with explicit
partitioning/sort-order knobs, plus the (deliberately driver-side) GDF
writer for small graph results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_by: list[str],
                      fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Hive-partitioned output (the scalable replacement for the reference's
    python part-file regroupers, break-into-date-scrapes.py:11-29)."""
    df.write.mode(mode).partitionBy(*partition_by).format(fmt).save(path)


def write_sorted_single(df: DataFrame, path: str, order: list,
                        fmt: str = "json", mode: str = "overwrite") -> None:
    """Single sorted output file for small results — reference
    repartitionAndSortWithinPartitions + 1-file shape
    (ExtractPopularImages.scala:26-29 / NERCombinedJson single-file JSON).
    ONLY for Σ-budgets-sized results; never for table-scale data."""
    df.orderBy(*order).coalesce(1).write.mode(mode).format(fmt).save(path)


def write_tab_delimited(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Tab-delimited text (TupleFormatter.tabDelimit output shape,
    TupleFormatter.scala:19-32)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(mode).text(path)


def write_gdf(edges_df: DataFrame, path: str,
              src: str = "src", dst: str = "dst", weight: str = "count") -> None:
    """Gephi GDF writer (WriteGDF.scala:37-50): collects to the driver —
    explicitly for small aggregated graphs (the reference does the same)."""
    rows = edges_df.select(src, dst, weight).collect()
    nodes = sorted({r[src] for r in rows} | {r[dst] for r in rows})
    with open(path, "w") as f:
        f.write("nodedef>name VARCHAR\n")
        for n in nodes:
            f.write(f"{n}\n")
        f.write("edgedef>node1 VARCHAR,node2 VARCHAR,weight DOUBLE\n")
        for r in rows:
            f.write(f"{r[src]},{r[dst]},{r[weight]}\n")


def merged_json_file(df: DataFrame, path: str, order: list) -> str:
    """Single JSON file at ``path`` (reference partDirToFile semantics):
    write a 1-part JSON dir, then move the part file."""
    tmp = path + ".dir"
    write_sorted_single(df, tmp, order, fmt="json")
    part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
    os.replace(os.path.join(tmp, part), path)
    for leftover in os.listdir(tmp):
        os.remove(os.path.join(tmp, leftover))
    os.rmdir(tmp)
    return path

