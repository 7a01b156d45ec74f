"""Small-file compaction — the table-maintenance pass every long-lived
100 TB parquet table needs (streaming sinks and fine-grained ingest leave
thousands of KB-sized files; scan planning, footer reads, and shuffle
fan-in all degrade with file count).

`compact` rewrites a parquet directory into ~target-sized files, optionally
range-clustered on a sort column so the rewritten layout ALSO gains
min/max skipping on that column (the cheap sibling of the Z-order write in
plans/zorder.py — one dimension instead of two, but file-count-driven).

Sizing uses the source's on-disk bytes (local filesystem walk here; on a
cluster the same numbers come from the FileSystem listing the scan already
performs). Row-group-level rewrite is parquet-internal and out of scope —
file-level repacking is what Spark controls and what fixes the planner.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from elric_rs_spark.storage import parquet_files


def compact(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Rewrite `src_dir` into ceil(source_bytes / target_bytes) files at
    `out_dir`. With `sort_col`, files are range-partitioned and sorted on
    it (disjoint min/max ranges -> per-file skipping on that column);
    without, a plain round-robin repartition balances file sizes.
    Returns the file count written. A source without *.parquet files
    (walked recursively: a Hive-partitioned table keeps them in
    key=value subdirs) raises FileNotFoundError."""
    src = parquet_files(src_dir)
    if not src:
        raise FileNotFoundError(f"no *.parquet files under {src_dir!r}")
    df: DataFrame = spark.read.parquet(src_dir)
    n_files = max(1, math.ceil(sum(src.values()) / target_bytes))
    if sort_col is not None:
        out = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_dir)
    return len(parquet_files(out_dir))
