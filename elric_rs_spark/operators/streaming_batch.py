"""Batch-checkable equivalents of the streaming semantics
(SURVEY.md S1/S3/S5, T7/T8) — the live Structured Streaming versions live
in elric_rs_spark/streaming/; these run the same rules in batch so the
DuckDB oracle can grade them.

Block-stream mapping over the `events` fixture: `event_id` = block_num,
`ts` = block timestamp, the max event_id minus a fixed reorg depth = the
finality watermark (`final_block_height`).
"""

from __future__ import annotations

import hashlib
import os

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elric_rs_spark.registry import query
from elric_rs_spark.streaming.finality import REORG_BUFFER_LEN
from elric_rs_spark.tables import load_table


@query(
    "q_source_scan",
    oracle="""
SELECT
  event_id AS block_num,
  ts AS block_ts,
  CAST(event_id AS VARCHAR) AS cursor,
  props AS payload
FROM events
""",
)
def q_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: project the fixture into the block-stream row shape
    (block_num, block_ts, cursor, payload) — the schema the streaming
    source (streaming/source.py) emits."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("block_num"),
        F.col("ts").alias("block_ts"),
        F.col("event_id").cast("string").alias("cursor"),
        F.col("props").alias("payload"),
    )


@query(
    "q_filter_msgtype",
    oracle="""
SELECT event_id, event_type, user_id
FROM events
WHERE event_type IN ('click', 'view')
""",
)
def q_filter_msgtype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 response demux: classify stream messages by kind and keep only
    data-bearing ones (ref substreams_stream.rs:158-216 skips
    Session/Progress messages). Predicate is pushed to the parquet scan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "event_type", "user_id"
    )


@query(
    "q_finality_filter",
    oracle=f"""
SELECT e.event_id AS block_num, e.event_type, e.user_id
FROM events e
CROSS JOIN (SELECT max(event_id) - {REORG_BUFFER_LEN} AS final_height FROM events) w
WHERE e.event_id <= w.final_height
""",
)
def q_finality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 finality rule in batch form: only blocks at or behind the
    finality watermark flush to the sink (ref loader.rs:82-109). The
    watermark is max(block)-12 here; the one-row aggregate is broadcast,
    so no shuffle of the fact side."""
    ev = load_table(spark, sf_dir, "events")
    watermark = ev.agg((F.max("event_id") - REORG_BUFFER_LEN).alias("final_height"))
    return (
        ev.crossJoin(F.broadcast(watermark))
        .filter(F.col("event_id") <= F.col("final_height"))
        .select(
            F.col("event_id").alias("block_num"),
            "event_type",
            "user_id",
        )
    )


@query(
    "q_undo_drop",
    oracle=f"""
WITH w AS (SELECT max(event_id) - {REORG_BUFFER_LEN} AS final_height FROM events)
SELECT e.event_id AS block_num, e.event_type
FROM events e CROSS JOIN w
WHERE e.event_id <= w.final_height       -- already finalized: unaffected by undo
   OR e.event_id <= w.final_height + 5   -- buffered and at/below last_valid_block
""",
)
def q_undo_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 undo semantics in batch form: an undo at last_valid_block =
    final_height+5 drops buffered (non-final) blocks above it, while
    already-finalized blocks are untouched (ref loader.rs:177-193)."""
    ev = load_table(spark, sf_dir, "events")
    watermark = ev.agg((F.max("event_id") - REORG_BUFFER_LEN).alias("final_height"))
    last_valid = F.col("final_height") + 5
    return (
        ev.crossJoin(F.broadcast(watermark))
        .filter(
            (F.col("event_id") <= F.col("final_height"))
            | (F.col("event_id") <= last_valid)
        )
        .select(F.col("event_id").alias("block_num"), "event_type")
    )


@query(
    "q_sink_roundtrip",
    oracle="""
SELECT event_type, count(*) AS n_rows, CAST(sum(user_id) AS BIGINT) AS sum_user
FROM events
GROUP BY event_type
""",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 sink semantics, batch-checkable: write the table through the
    parquet sink (the test stand-in for the ClickHouse inserter), read it
    back, aggregate — proving the write path loses nothing. The sink dir
    lives under the session's SparkFiles root, keyed by sf_dir (the
    graph._copurchase_build rule): it dies with the session, and two
    sessions never write into each other's files."""
    ev = load_table(spark, sf_dir, "events")
    out_dir = os.path.join(
        SparkFiles.getRootDirectory(),
        "sink_roundtrip",
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    ev.write.mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user"),
    )
