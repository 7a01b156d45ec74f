"""Live Structured Streaming window tests (SURVEY.md X13/X14 streaming
form): tumbling window aggregation with a watermark over the block
stream, late-data drop semantics, and session windows — the batch
equivalents (`q_stream_window`, `q_session_window`) are oracle-checked;
these prove the same expressions run under `readStream`.
"""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.streaming.source import BLOCK_STREAM_SCHEMA, land_blocks, read_block_stream

BASE = datetime.datetime(2024, 8, 7, 12, 0, 0)


def _ts_blocks(n, gap_s=60):
    return [
        {
            "stream_id": "s1",
            "msg_type": "new",
            "block_num": i,
            "block_id": f"b{i}",
            "block_ts": BASE + datetime.timedelta(seconds=i * gap_s),
            "cursor": str(i),
            "final_block_height": i,
            "last_valid_block": None,
            "payload": None,
        }
        for i in range(n)
    ]


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="elric_swin_") as d:
        yield d


class TestStreamingWindows:
    def test_tumbling_window_with_watermark(self, spark, tmpdir):
        """10-minute tumbling windows over event time with a 5-minute
        watermark; availableNow drains everything, append mode emits only
        windows the watermark has closed."""
        landing = f"{tmpdir}/landing"
        land_blocks(spark, _ts_blocks(60), landing)  # 60 blocks, 1/min
        stream = read_block_stream(spark, landing)
        agg = (
            stream.withWatermark("block_ts", "5 minutes")
            .groupBy(F.window("block_ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.max("block_num").alias("max_block"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("swin_tumble")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("swin_tumble").orderBy("w").collect()
        # 60 minutes of data = 6 windows; the last window (50-60min) is
        # NOT closed by the watermark (max ts 59min, wm 54min) -> 5 emitted
        assert len(rows) == 5
        assert all(r.n == 10 for r in rows)
        assert rows[0].w.start == BASE and rows[-1].max_block == 49

    def test_late_rows_dropped_by_watermark(self, spark, tmpdir):
        """A row older than the watermark in a later micro-batch is
        dropped, not merged into a closed window (the at-scale correctness
        contract for out-of-order streams)."""
        landing = f"{tmpdir}/landing"
        out = f"{tmpdir}/out"
        land_blocks(spark, _ts_blocks(60), landing, batch_size=60)
        # second file: one very late row (t = +1 min, far behind wm 54min)
        late = [dict(_ts_blocks(1)[0], block_num=999, final_block_height=999,
                     block_ts=BASE + datetime.timedelta(minutes=1))]

        def run_once():
            stream = read_block_stream(spark, landing)
            agg = (
                stream.withWatermark("block_ts", "5 minutes")
                .groupBy(F.window("block_ts", "10 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", f"{tmpdir}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        land_blocks(spark, late, landing)
        run_once()
        # every emitted window has exactly 10 rows: the late row neither
        # re-emitted a closed window nor created a duplicate
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 5
        assert all(r.n == 10 for r in rows)
        assert BASE in [r.w.start for r in rows]

    def test_session_window_stream(self, spark, tmpdir):
        """Session windows (5-min gap) under readStream: two bursts
        separated by >gap form exactly two sessions."""
        landing = f"{tmpdir}/landing"
        burst1 = _ts_blocks(5, gap_s=60)  # 12:00..12:04
        burst2 = [
            dict(b, block_num=b["block_num"] + 100,
                 final_block_height=b["block_num"] + 100,
                 block_ts=b["block_ts"] + datetime.timedelta(minutes=30))
            for b in _ts_blocks(3, gap_s=60)  # 12:30..12:32
        ]
        # closing row far in the future so the watermark closes both
        closer = [dict(_ts_blocks(1)[0], block_num=500, final_block_height=500,
                       block_ts=BASE + datetime.timedelta(hours=2))]
        land_blocks(spark, burst1 + burst2 + closer, landing)
        stream = read_block_stream(spark, landing)
        # streaming session windows require a non-global grouping key
        agg = (
            stream.withWatermark("block_ts", "1 minute")
            .groupBy(
                "stream_id", F.session_window("block_ts", "5 minutes").alias("s")
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("swin_session")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("swin_session").orderBy("s").collect()
        closed = [r for r in rows if r.n > 1]
        assert [r.n for r in closed] == [5, 3]


class TestStreamingTimebucketRollup:
    def test_timebucket_rollup_stream_matches_batch(self, spark, tmpdir):
        """q_rollup_timebucket's docstring claims its `F.window` aggregate
        runs unchanged under `readStream` + `withWatermark` as a streaming
        continuous aggregate — prove it on the REAL events table: stream
        the same rows file-by-file in event-time order, and every window
        the watermark closes must carry exactly the batch query's values."""
        from elric_rs_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        # watermarks require TIMESTAMP (events.ts arrives TIMESTAMP_NTZ);
        # one cast before landing keeps stream and batch reference aligned
        ev = load_table(spark, sf, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        landing = f"{tmpdir}/events_stream"
        # land 4 slices in event-time order with DISTINCT mtimes — the
        # file source orders batches by modification time, and equal
        # mtimes would let a late slice lead, pushing the watermark ahead
        # and late-dropping earlier slices
        import time as _time

        from pyspark.sql import Window

        slices = ev.withColumn("slice", F.ntile(4).over(Window.orderBy("ts")))
        for i in range(1, 5):
            slices.filter(F.col("slice") == i).drop("slice").write.mode(
                "append"
            ).parquet(landing)
            _time.sleep(1.1)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        cents = F.expr("CAST(round(value * 100) AS BIGINT)")
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(cents).alias("sum_cents"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("tb_roll_stream")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_tb")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.w.start, r.event_type): (r.n_events, r.sum_cents, r.min_value, r.max_value)
            for r in spark.table("tb_roll_stream").collect()
        }
        batch = (
            ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(cents).alias("sum_cents"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .collect()
        )
        import datetime as dt

        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        wm = max_ts - dt.timedelta(minutes=10)
        expected = {
            (r.w.start, r.event_type): (r.n_events, r.sum_cents, r.min_value, r.max_value)
            for r in batch
            if r.w.end <= wm
        }
        # every watermark-closed window emitted exactly the batch values
        assert expected, "watermark closed no windows — fixture too small"
        for k, v in expected.items():
            assert got.get(k) == v, (k, got.get(k), v)
        # nothing emitted twice and nothing beyond the open horizon
        open_windows = [k for k in got if k not in expected]
        for w_start, _ in open_windows:
            assert w_start + dt.timedelta(minutes=15) > wm


class TestStreamStreamJoin:
    """Watermarked stream-stream interval join: the streaming result must
    equal the batch evaluation of the SAME expression over the same
    landed data (streaming/joins.py)."""

    @staticmethod
    def _land(spark, tmpdir):
        import pyspark.sql.types as T

        imp_schema = T.StructType(
            [
                T.StructField("imp_id", T.LongType()),
                T.StructField("imp_user", T.LongType()),
                T.StructField("imp_ts", T.TimestampType()),
            ]
        )
        clk_schema = T.StructType(
            [
                T.StructField("clk_id", T.LongType()),
                T.StructField("clk_user", T.LongType()),
                T.StructField("clk_ts", T.TimestampType()),
            ]
        )
        # 20 impressions (users 0-4, one per minute); clicks: some inside
        # the 10-minute window, one outside it, one for a user with no
        # impression
        imps = [
            (i, i % 5, BASE + datetime.timedelta(minutes=i)) for i in range(20)
        ]
        clks = (
            [(100 + i, i % 5, BASE + datetime.timedelta(minutes=i, seconds=90)) for i in range(0, 20, 3)]
            + [(200, 1, BASE + datetime.timedelta(hours=3))]  # outside window
            + [(201, 9, BASE + datetime.timedelta(minutes=5))]  # no impression
        )
        spark.createDataFrame(imps, imp_schema).write.parquet(f"{tmpdir}/imps")
        spark.createDataFrame(clks, clk_schema).write.parquet(f"{tmpdir}/clks")
        return imp_schema, clk_schema

    def test_stream_join_matches_batch(self, spark, tmpdir):
        from elric_rs_spark.streaming.joins import interval_join

        imp_schema, clk_schema = self._land(spark, tmpdir)

        imp_s = (
            spark.readStream.schema(imp_schema)
            .parquet(f"{tmpdir}/imps")
            .withWatermark("imp_ts", "10 minutes")
        )
        clk_s = (
            spark.readStream.schema(clk_schema)
            .parquet(f"{tmpdir}/clks")
            .withWatermark("clk_ts", "10 minutes")
        )
        joined = interval_join(
            imp_s, clk_s, "imp_user", "clk_user", "imp_ts", "clk_ts", "10 minutes"
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.imp_id, r.clk_id)
            for r in spark.table("ssj").collect()
        }

        batch = interval_join(
            spark.read.parquet(f"{tmpdir}/imps"),
            spark.read.parquet(f"{tmpdir}/clks"),
            "imp_user",
            "clk_user",
            "imp_ts",
            "clk_ts",
            "10 minutes",
        )
        want = {(r.imp_id, r.clk_id) for r in batch.collect()}

        assert got == want and len(want) > 0
        # the out-of-window click (id 200) and the no-impression click
        # (id 201) never attribute
        assert not any(c in (200, 201) for _, c in got)


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmpdir):
        """At-least-once upstream delivery dedup: the same block_id landed
        twice must emit once. dropDuplicatesWithinWatermark keeps bounded
        state (keys expire once the watermark passes their event time) —
        the production shape for exactly-once ingestion over a redelivering
        transport; plain dropDuplicates on a stream would grow state
        forever."""
        landing = f"{tmpdir}/landing"
        blocks = _ts_blocks(20)
        land_blocks(spark, blocks, landing)
        # redeliver the first five (duplicate cursor replay)
        land_blocks(spark, [dict(b) for b in blocks[:5]], landing)
        stream = read_block_stream(spark, landing)
        dedup = stream.withWatermark("block_ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["block_id"]
        )
        q = (
            dedup.writeStream.format("memory")
            .queryName("sdedup")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        ids = [r.block_num for r in spark.table("sdedup").collect()]
        assert sorted(ids) == list(range(20))
        assert len(ids) == len(set(ids))
