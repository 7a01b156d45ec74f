"""Parquet writer for the typed per-table sink, plus the read side of
its parquet layout: the exactly-once view and cursor recovery
(SURVEY.md S5/S6/S7/T9).

`pipeline.TypedPerTableSink` is the one per-table `foreachBatch` sink;
it picks `ParquetWriter` for a directory target. The layout is one
parquet dir per table, `{base}/data/{table}`, and the cursor rows in
`{base}/cursors`, every row tagged with its epoch_id. The driver writes
one pyarrow file per table and batch, `data/{table}/part-<epoch>.parquet`,
then the cursor, `cursors/part-<epoch>.parquet` (ref loader.rs:119-122,
195-210). Every file goes to a hidden `.…tmp` name first and is renamed
into place, so a reader never sees half a file, and a replayed epoch
replaces its own files. `read_exactly_once` still collapses repeats on
read, the parquet analogue of the reference's ReplacingMergeTree: a
directory can hold several writers' files of one epoch. Only the
driver writes, so the directory need only be driver-writable.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elric_rs_spark.storage import publish

# the cursor rows `pipeline.TypedPerTableSink` commits after each batch
CURSOR_SCHEMA = (
    "stream_id string, cursor string, block_num long, block_id string, "
    "epoch_id int"
)


def _has_data_file(directory: str) -> bool:
    try:
        return any(not n.startswith((".", "_")) for n in os.listdir(directory))
    except FileNotFoundError:
        return False


class ParquetWriter:
    """Write one batch's rows as parquet under `{base_dir}/data/{table}`
    and its cursor rows under `{base_dir}/cursors`."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def commit(self, epoch_id: int, tables: dict[str, pa.Table],
               cursor: pa.Table) -> None:
        """Write each table's rows of the batch as one file, then the
        cursor file. A table without rows gets a schema-only file while
        its dir has no data file, so it reads back as an empty typed
        table."""
        name = f"part-{epoch_id:020d}.parquet"
        for table, rows in tables.items():
            directory = f"{self.base_dir}/data/{table}"
            if rows.num_rows or not _has_data_file(directory):
                publish(directory, name, rows)
        if cursor.num_rows:
            publish(f"{self.base_dir}/cursors", name, cursor)


def read_exactly_once(
    spark, base_dir: str, table: str, pk_cols: list[str] | tuple[str, ...]
) -> DataFrame:
    """Exactly-once READ view over the at-least-once sink (SURVEY.md §7
    risk 2). foreachBatch can replay a completed epoch after a crash; the
    replay writes the same rows tagged with the SAME epoch_id, replacing
    its own files, but a directory can hold several writers' files of
    one epoch (an older layout's per-partition files, say). The
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
    """S7 cursor recovery (ref main.rs:299-310): latest cursor by
    block_num, read with the cursor's declared schema. Only a missing
    `cursors` dir means "no cursor": an unreadable one raises, since
    restarting from the beginning would replay every committed block."""
    path = f"{base_dir}/cursors"
    if not os.path.isdir(path):
        return None
    rows = (
        spark.read.schema(CURSOR_SCHEMA)
        .parquet(path)
        .filter(F.col("stream_id") == stream_id)
        .orderBy(F.col("block_num").desc())
        .limit(1)
        .collect()
    )
    return rows[0].cursor if rows else None
