"""Incrementally-maintained continuous aggregate (streaming mart) —
the ClickHouse SummingMergeTree analogue, merge-on-read.

The reference never recomputes state in the sink: it appends and lets
the ClickHouse engine merge (ReplacingMergeTree for cursors, ref
README.md:9-11). The same delegation works for AGGREGATES: each
micro-batch appends its per-key PARTIAL sums (map-side-combined, tiny)
tagged with the epoch id; the read view merges partials with one
aggregate. Properties:

- **Append-only sink** — no read-modify-write race, no overwrite of a
  file being read, object-store friendly (the 100 TB reality where
  rewriting a mart per batch is impossible).
- **Exactly-once on read** — a crashed-and-replayed epoch appends the
  same partials again with the SAME epoch_id; the read view collapses
  replays by taking one partial per (key, epoch) before summing —
  identical to how read_exactly_once handles row replays.
- **Bounded work per batch** — each batch writes O(live keys in batch)
  rows, not O(all keys ever); the merge cost is paid by readers, and a
  periodic compaction (rewrite the merged view, truncate partials) keeps
  read amplification bounded — exactly a SummingMergeTree part-merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elric_rs_spark.storage import COMPACTED_EPOCH, guard_missing, publish, swap_in


class SummingMart:
    """Maintain `sum(value_col) per key_cols` incrementally from a
    stream via foreachBatch."""

    def __init__(self, base_dir: str, key_cols: list[str], value_col: str):
        if not key_cols:
            raise ValueError("SummingMart needs at least one key column")
        self.path = f"{base_dir}/mart_partials"
        self.key_cols = list(key_cols)
        self.value_col = value_col

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch half: append this epoch's per-key partial sums.
        Refuses a store that an interrupted compaction left missing:
        appending to a fresh one would hide the folded history."""
        guard_missing(self.path)
        (
            batch_df.groupBy(*self.key_cols)
            .agg(
                F.sum(self.value_col).alias("partial_sum"),
                F.count(F.lit(1)).alias("partial_n"),
            )
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(self.path)
        )

    def _watermark_path(self) -> str:
        return f"{self.path}__compaction_watermark"

    def _read_watermark(self) -> int:
        """Highest epoch folded by any compaction; -1 = never compacted."""
        try:
            with open(self._watermark_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def read(self, spark: SparkSession) -> DataFrame:
        """Merge-on-read: one partial per (key, epoch) — collapsing
        crash replays, whose re-appended partials tie on the full key —
        then sum partials per key.

        Replay-after-compaction safety: a crashed run's final epoch can
        be written to the partials path without its checkpoint commit
        landing; compaction folds it, then the restarted stream replays
        the SAME epoch and its fresh partials no longer tie with any
        surviving (key, epoch) row. The compaction watermark closes the
        hole — every partial with epoch_id <= watermark is already
        inside the folded row and is dropped here."""
        guard_missing(self.path)
        parts = spark.read.parquet(self.path)
        wm = self._read_watermark()
        if wm >= 0:
            parts = parts.filter(
                (F.col("epoch_id") == COMPACTED_EPOCH) | (F.col("epoch_id") > wm)
            )
        one_per_epoch = parts.dropDuplicates([*self.key_cols, "epoch_id"])
        return one_per_epoch.groupBy(*self.key_cols).agg(
            F.sum("partial_sum").alias(f"sum_{self.value_col}"),
            F.sum("partial_n").alias("n_rows"),
        )

    def compact(self, spark: SparkSession) -> None:
        """The SummingMergeTree part-merge: collapse all partials into
        one row per key under a reserved epoch, bounding read
        amplification. Not safe concurrently with an active writer on
        the same path; safe across crash/restart boundaries — the
        watermark recorded here makes read() drop any replayed partials
        for epochs the fold already absorbed."""
        parts = spark.read.parquet(self.path)
        top = parts.filter(F.col("epoch_id") != COMPACTED_EPOCH).agg(
            F.max("epoch_id")
        ).collect()[0][0]
        merged = self.read(spark).select(
            *self.key_cols,
            F.col(f"sum_{self.value_col}").alias("partial_sum"),
            F.col("n_rows").alias("partial_n"),
            F.lit(COMPACTED_EPOCH).alias("epoch_id"),
        )
        tmp = f"{self.path}__compact"
        merged.write.mode("overwrite").parquet(tmp)
        swap_in(tmp, self.path)
        # watermark AFTER the swap: a crash between swap and watermark
        # write leaves the old watermark, which only risks re-dropping
        # nothing (the folded rows carry COMPACTED_EPOCH); a crash
        # before the swap leaves both untouched
        new_wm = max(self._read_watermark(), top if top is not None else -1)
        if new_wm >= 0:
            publish(*os.path.split(self._watermark_path()), str(new_wm))
