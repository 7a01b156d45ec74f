"""SparkSession builder tuned for both local test runs and cluster scale.

Scale stance (100 TB / 1000 executors):
- AQE on: runtime coalescing, skew-join splitting, dynamic join selection.
- shuffle.partitions is a *local* default (matches local cores); on a real
  cluster AQE's coalescePartitions + advisoryPartitionSizeInBytes make the
  static number mostly irrelevant.
- Arrow on: every Pandas UDF path transfers columnar batches, not rows.
- UTC session timezone: timestamp semantics stable across driver locales.
- Checkpoint files of pins (`buildlog.pin`, reliable when a checkpoint
  dir is set) are deleted once their DataFrame is garbage-collected.
- No DataFrame origin capture: PySpark otherwise wraps every Column
  method and `F.*` call to record its Python call site, about ten Py4J
  round trips each (`F.col` costs 13 instead of 3). The cost: a runtime
  error loses the block naming the DataFrame call site that built the
  failing expression. Strict-mode cast errors carry their own column and
  value text.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from elric_rs_spark.storage import parquet_files

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Shuffle partitions must scale with DATA, not stay pinned to core
# count: the round-8 sf1->sf10 decade measured q_agg_approx_portable at
# 41.6x/decade with partitions pinned at 32 — each reduce task's hash
# agg + window sort outgrew its share of the execution-memory pool and
# spilled — and at 9.3x (linear) with 256. One parquet byte expands
# ~4-6x decompressed plus JVM object overhead, so ~8 MB of parquet per
# reduce task keeps in-flight partitions ~50 MB — comfortably inside a
# 16g/32-slot pool. Floor at cpus so small inputs keep full
# parallelism; AQE coalesces the excess away on small shuffles, which
# is why the rule costs ~0 at sf0.1 (measured +6% worst-case on the
# common-17, inside run noise).
_PARQUET_BYTES_PER_PARTITION = 8 << 20


def dir_parquet_bytes(sf_dir: str) -> int:
    """Total on-disk parquet bytes of a dataset dir (0 if missing): flat
    `t.parquet` files and Spark-written `t.parquet/` dirs alike, never
    the `_SUCCESS` / `.crc` sidecars. The cheap input-size signal behind
    every scale-adaptive decision here (shuffle partitions,
    physical-plan form selection)."""
    return sum(parquet_files(sf_dir).values())


def shuffle_partitions_for(sf_dir: str, cpus: str | int | None = None) -> int:
    """Data-proportional shuffle-partition count for a dataset dir:
    max(cpus, parquet_bytes / 8 MB). The cluster form of the same rule
    is targeting ~100-200 MB of shuffle data per task."""
    cpus = int(cpus or CPUS)
    total = dir_parquet_bytes(sf_dir)
    if total == 0:
        return cpus
    return max(cpus, total // _PARQUET_BYTES_PER_PARTITION)


def get_spark(app_name: str = "elric_rs_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or CPUS
    parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Input splits sized for CPU-heavy per-row work, not for scan
        # I/O: the round-11 batch-B decade measured the whole per-doc
        # text family (lang-id, quality scores, n-gram explosions) at
        # 6-11x/decade because their heavy expressions are PIPELINED
        # INTO THE SCAN stage, and a compact single-file table at the
        # default 128 MB split is 1-2 tasks no matter how many cores
        # exist. ~16 MB of parquet per split keeps scan-stage work
        # data-proportional (the input-side mirror of the 8 MB/shuffle-
        # partition rule above); Spark still packs multiple small files
        # per task via openCostInBytes, so many-file dirs are unhurt.
        # On a real cluster the same rule holds per executor core.
        # NOTE: one-row-group files CANNOT be split at any setting
        # (rows go to the split holding the group midpoint) — fixture
        # writers must emit bounded row groups (tools/gen_sf.py writes
        # 8,192-row groups).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
