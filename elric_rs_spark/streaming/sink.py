"""Parquet writer for the typed per-table sink, plus the read side of
its parquet layout: the exactly-once view and cursor recovery
(SURVEY.md S5/S6/S7/T9).

`pipeline.TypedPerTableSink` is the one per-table `foreachBatch` sink;
it picks `ParquetWriter` for a directory target. The layout is one
parquet dir per table, `{base}/data/{table}`, and the cursor rows in
`{base}/cursors`, every row tagged with its epoch_id. The sink appends
data first and the cursor last (ref loader.rs:119-122, 195-210), so a
crash can repeat a block but never lose data that the cursor claims is
done (at-least-once write); `read_exactly_once` collapses the replays
on read, the parquet analogue of the reference's ReplacingMergeTree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ParquetWriter:
    """Append DataFrames to `{base_dir}/data/{table}` and
    `{base_dir}/cursors` as parquet."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(f"{self.base_dir}/data/{table}")

    def append_cursor(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(f"{self.base_dir}/cursors")


def read_exactly_once(
    spark, base_dir: str, table: str, pk_cols: list[str] | tuple[str, ...]
) -> DataFrame:
    """Exactly-once READ view over the at-least-once sink (SURVEY.md §7
    risk 2). foreachBatch can replay a completed epoch after a crash; the
    sink appends the same rows again tagged with the SAME epoch_id. The
    reference delegates replay collapse to ClickHouse ReplacingMergeTree
    ordered by the primary key (ref README.md:9-11); the parquet analogue
    is dedup-on-read keyed by (epoch_id, block_num, *pk): replayed rows
    tie on the full key, while distinct changes inside one block differ in
    their PK columns. At scale this is a window-free dropDuplicates — one
    hash aggregate on a uniform composite key.

    pk_cols is REQUIRED (pass the table's ordering key): deduping on
    (epoch_id, block_num) alone would collapse distinct same-block
    changes. A table with no PK and no possibility of two identical
    legitimate rows may pass all non-key columns explicitly."""
    if not pk_cols:
        raise ValueError(
            "read_exactly_once needs the table's pk/ordering columns — "
            "deduping on (epoch_id, block_num) alone collapses distinct "
            "changes within a block"
        )
    df = spark.read.parquet(f"{base_dir}/data/{table}")
    return df.dropDuplicates(["epoch_id", "block_num", *pk_cols])


def load_persisted_cursor(spark, base_dir: str, stream_id: str) -> str | None:
    """S7 cursor recovery (ref main.rs:299-310): latest cursor by block_num."""
    try:
        df = spark.read.parquet(f"{base_dir}/cursors")
    except Exception:
        return None
    rows = (
        df.filter(F.col("stream_id") == stream_id)
        .orderBy(F.col("block_num").desc())
        .limit(1)
        .collect()
    )
    return rows[0].cursor if rows else None
