"""Full-topology streaming test: the Spark-native analogue of the
reference's end-to-end `test_process_data` (ref loader.rs:358-402), which
decodes a change-set and asserts the exact typed rows the mock sink
received — here with finality, undo, two tables, composite-PK merge, the
ERC-20-ish typed schema from ref main.rs:333-366, and cursor recovery.
"""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.streaming.pipeline import TypedPerTableSink, run_pipeline
from elric_rs_spark.streaming.sink import load_persisted_cursor
from elric_rs_spark.streaming.source import land_blocks

TRANSFERS_SCHEMA = {
    "contract_address": "FixedString(8)",
    "evt_block_number": "UInt32",
    "value": "UInt256",
    "evt_block_time": "DateTime",
}
APPROVALS_SCHEMA = {
    "owner": "String",
    "spender": "String",
    "amount": "UInt64",
}


def _payload(n: int) -> str:
    changes = [
        {
            "table": "transfers",
            "fields": {
                "contract_address": "ab",
                "evt_block_number": str(n),
                "value": str((1 << 200) + n),  # beyond Decimal(38)
                "evt_block_time": f"2024-08-07T00:00:{n % 60:02d}Z",
            },
            # composite PK: merged into the row (ref loader.rs:143-146)
            "pk": {"evt_tx_hash": f"0x{n:x}", "evt_index": str(n)},
        },
        {
            "table": "approvals",
            "fields": {"owner": f"o{n}", "spender": f"s{n}", "amount": str(n * 10)},
            # single PK: ignored (ref loader.rs:147)
            "pk": {"owner": "SHOULD_NOT_OVERRIDE"},
        },
    ]
    return json.dumps(changes)


def _blocks(n_blocks: int, reorg_depth: int):
    return [
        {
            "stream_id": "s1",
            "msg_type": "new",
            "block_num": n,
            "block_id": f"blk-{n:08d}",
            "block_ts": None,
            "cursor": str(n),
            "final_block_height": max(n - reorg_depth, 0),
            "last_valid_block": None,
            "payload": _payload(n),
        }
        for n in range(n_blocks)
    ]


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="elric_pipeline_") as d:
        yield d


class TestFullPipeline:
    def test_process_data_end_to_end(self, spark, tmpdir):
        landing, ckpt, out = (f"{tmpdir}/{d}" for d in ("landing", "ckpt", "out"))
        land_blocks(spark, _blocks(20, reorg_depth=5), landing)

        # PK merge puts two extra string columns into transfers rows;
        # declare them so the cast keeps them (alphabetical order overall)
        schema = dict(TRANSFERS_SCHEMA, evt_tx_hash="String", evt_index="UInt32")
        sink = TypedPerTableSink(out, {"transfers": schema, "approvals": APPROVALS_SCHEMA})
        q = run_pipeline(spark, landing, ckpt, sink)
        q.awaitTermination(120)

        # watermark at block 19 is 14 -> blocks 0..14 finalized
        transfers = spark.read.parquet(f"{out}/data/transfers")
        assert sorted(r.block_num for r in transfers.collect()) == list(range(15))

        # typed fidelity (the test_process_data exact-rows assertion)
        row = transfers.filter(F.col("block_num") == 7).collect()[0]
        assert row.evt_block_number == 7
        assert row.value == str((1 << 200) + 7)  # U256 as canonical string
        assert row.evt_tx_hash == "0x7" and row.evt_index == 7  # composite PK merged
        assert len(row.contract_address) == 8  # FixedString zero-padded
        assert row.contract_address[:2] == b"ab"
        assert row.evt_block_time.second == 7  # RFC3339 parsed

        # alphabetical column order of the typed columns (ref main.rs:183)
        typed_cols = [c for c in transfers.columns
                      if c in schema]
        assert typed_cols == sorted(typed_cols)

        # single PK ignored: owner keeps the field value
        approvals = spark.read.parquet(f"{out}/data/approvals")
        a7 = approvals.filter(F.col("block_num") == 7).collect()[0]
        assert a7.owner == "o7" and a7.amount == 70

        # cursor: written after data, recoverable, latest flushed block
        assert load_persisted_cursor(spark, out, "s1") == "14"

    def test_undo_retracts_before_sink(self, spark, tmpdir):
        """Blocks above last_valid_block never reach any table sink
        (ref loader.rs:177-193): buffer-only retraction."""
        landing, ckpt, out = (f"{tmpdir}/{d}" for d in ("landing", "ckpt", "out"))
        msgs = _blocks(21, reorg_depth=30)  # watermark stays 0: all buffered
        msgs.append(
            {
                "stream_id": "s1",
                "msg_type": "undo",
                "block_num": 20,
                "block_id": None,
                "block_ts": None,
                "cursor": None,
                "final_block_height": None,
                "last_valid_block": 10,
                "payload": None,
            }
        )
        # then a final-watermark catch-up block flushes what survived
        msgs.append(
            {
                "stream_id": "s1",
                "msg_type": "new",
                "block_num": 30,
                "block_id": "blk-30",
                "block_ts": None,
                "cursor": "30",
                "final_block_height": 30,
                "last_valid_block": None,
                "payload": _payload(30),
            }
        )
        land_blocks(spark, msgs, landing)
        sink = TypedPerTableSink(out, {"approvals": APPROVALS_SCHEMA})
        q = run_pipeline(spark, landing, ckpt, sink)
        q.awaitTermination(120)

        approvals = spark.read.parquet(f"{out}/data/approvals")
        nums = sorted(r.block_num for r in approvals.collect())
        # 11..20 were retracted by the undo; 0..10 + 30 flushed
        assert nums == list(range(11)) + [30]


class TestLiveTrigger:
    def test_processing_time_trigger_runs(self, spark, tmpdir):
        """run_pipeline(available_now=False) uses the reference's 15s
        insert cadence as a processingTime trigger (ref loader.rs:58).
        Exercise the live branch: start, let one micro-batch land, stop.
        (availableNow covers the drain path everywhere else.)"""
        import os
        import time

        landing, ckpt, out = (f"{tmpdir}/{d}" for d in ("landing", "ckpt", "out"))
        land_blocks(spark, _blocks(8, reorg_depth=2), landing)
        sink = TypedPerTableSink(out, {"approvals": APPROVALS_SCHEMA})
        q = run_pipeline(spark, landing, ckpt, sink, available_now=False)
        try:
            # cursor dir appears only AFTER the batch's data writes (T9)
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline and not os.path.exists(f"{out}/cursors"):
                time.sleep(0.5)
        finally:
            q.stop()
            q.awaitTermination(30)
        approvals = spark.read.parquet(f"{out}/data/approvals")
        assert approvals.count() > 0  # watermark 7-2=5 -> blocks 0..5 landed


class TestExactlyOnceReplay:
    def test_epoch_replay_is_idempotent_on_read(self, spark, tmpdir):
        """SURVEY §7 risk 2 (VERDICT r01 next #6): foreachBatch can replay
        a completed epoch after a crash. Re-run the SAME batch through
        TypedPerTableSink with the same epoch_id and prove:
        (a) the raw sink is at-least-once (rows doubled),
        (b) read_exactly_once by (epoch_id, block_num, pk) restores the
            exact pre-replay result — the ReplacingMergeTree semantics the
            reference delegates to ClickHouse (ref README.md:9-11),
        (c) cursor recovery is unaffected."""
        from elric_rs_spark.streaming.sink import read_exactly_once
        from elric_rs_spark.streaming.source import BLOCK_STREAM_SCHEMA

        out = f"{tmpdir}/out"
        schema = dict(TRANSFERS_SCHEMA, evt_tx_hash="String", evt_index="UInt32")
        sink = TypedPerTableSink(out, {"transfers": schema})
        batch = spark.createDataFrame(
            [
                {
                    "stream_id": "s1",
                    "msg_type": "new",
                    "block_num": n,
                    "block_id": f"blk-{n}",
                    "block_ts": None,
                    "cursor": str(n),
                    "final_block_height": n,
                    "last_valid_block": None,
                    "payload": _payload(n),
                    "seq": n,
                }
                for n in range(5)
            ],
            BLOCK_STREAM_SCHEMA,
        )
        sink.write_batch(batch, epoch_id=3)
        pk = ["evt_tx_hash", "evt_index"]
        before = sorted(
            map(repr, read_exactly_once(spark, out, "transfers", pk).collect())
        )

        sink.write_batch(batch, epoch_id=3)  # the crash-replay
        raw = spark.read.parquet(f"{out}/data/transfers")
        assert raw.count() == 10  # at-least-once: appended again
        after = sorted(
            map(repr, read_exactly_once(spark, out, "transfers", pk).collect())
        )
        assert after == before and len(after) == 5
        assert load_persisted_cursor(spark, out, "s1") == "4"

    def test_replay_does_not_collapse_distinct_changes(self, spark, tmpdir):
        """Two DIFFERENT changes in the same block (distinct PKs) must both
        survive dedup-on-read — only true replays tie on the full key."""
        import json as _json

        from elric_rs_spark.streaming.sink import read_exactly_once
        from elric_rs_spark.streaming.source import BLOCK_STREAM_SCHEMA

        out = f"{tmpdir}/out"
        payload = _json.dumps(
            [
                {"table": "approvals",
                 "fields": {"owner": "o1", "spender": "s1", "amount": "1"},
                 "pk": {}},
                {"table": "approvals",
                 "fields": {"owner": "o2", "spender": "s2", "amount": "2"},
                 "pk": {}},
            ]
        )
        batch = spark.createDataFrame(
            [{"stream_id": "s1", "msg_type": "new", "block_num": 1,
              "block_id": "b1", "block_ts": None, "cursor": "1",
              "final_block_height": 1, "last_valid_block": None,
              "payload": payload, "seq": 0}],
            BLOCK_STREAM_SCHEMA,
        )
        sink = TypedPerTableSink(out, {"approvals": APPROVALS_SCHEMA})
        sink.write_batch(batch, epoch_id=0)
        sink.write_batch(batch, epoch_id=0)  # replay
        deduped = read_exactly_once(spark, out, "approvals", ["owner"])
        assert deduped.count() == 2
        assert sorted(r.owner for r in deduped.collect()) == ["o1", "o2"]


class TestDecodeChanges:
    def test_pk_overwrites_field_last_wins(self, spark):
        """HashMap::extend semantics (ref loader.rs:143-146): a composite
        PK key that also exists among the fields wins — and must not throw
        under Spark's default EXCEPTION map-dedup policy."""
        import json as _json

        from elric_rs_spark.streaming.pipeline import decode_changes

        payload = _json.dumps(
            [
                {
                    "table": "t",
                    "fields": {"a": "field", "b": "1"},
                    "pk": {"a": "pk_wins", "k2": "2"},
                }
            ]
        )
        df = spark.createDataFrame(
            [("s1", 1, "b1", "1", payload)],
            "stream_id string, block_num long, block_id string, "
            "cursor string, payload string",
        )
        row = decode_changes(df).collect()[0]
        assert row.row_map["a"] == "pk_wins"
        assert row.row_map["b"] == "1" and row.row_map["k2"] == "2"

    def test_single_pk_ignored(self, spark):
        import json as _json

        from elric_rs_spark.streaming.pipeline import decode_changes

        payload = _json.dumps(
            [{"table": "t", "fields": {"a": "field"}, "pk": {"a": "IGNORED"}}]
        )
        df = spark.createDataFrame(
            [("s1", 1, "b1", "1", payload)],
            "stream_id string, block_num long, block_id string, "
            "cursor string, payload string",
        )
        assert decode_changes(df).collect()[0].row_map["a"] == "field"


class TestMalformedPayloadPolicy:
    """Decode policy (the reference PANICS on malformed payloads,
    ref loader.rs:128-131): strict raises with block provenance,
    permissive drops + decode_errors quarantines."""

    @staticmethod
    def _frame(spark):
        rows = [
            ("s1", 1, "b1", "c1", _payload(1)),
            ("s1", 2, "b2", "c2", "{not json at all"),
            ("s1", 3, "b3", "c3", _payload(3)),
        ]
        return spark.createDataFrame(
            rows, "stream_id string, block_num long, block_id string, "
            "cursor string, payload string"
        )

    def test_strict_raises_with_block_provenance(self, spark):
        from elric_rs_spark.streaming.pipeline import decode_changes

        with pytest.raises(Exception, match="malformed change payload at block 2"):
            decode_changes(self._frame(spark), mode="strict").collect()

    def test_permissive_drops_and_quarantines(self, spark):
        from elric_rs_spark.streaming.pipeline import decode_changes, decode_errors

        df = self._frame(spark)
        good = decode_changes(df, mode="permissive").collect()
        # 2 valid payloads x 2 table changes each
        assert sorted({r.block_num for r in good}) == [1, 3]
        bad = decode_errors(df).collect()
        assert [(r.block_num, r.payload) for r in bad] == [(2, "{not json at all")]

    def test_strict_passes_clean_batches(self, spark):
        from elric_rs_spark.streaming.pipeline import decode_changes

        df = self._frame(spark).filter("block_num <> 2")
        assert len(decode_changes(df, mode="strict").collect()) == 4

    def test_protobuf_decode_follows_mode(self, spark):
        """The wire decoder honours the same policy: a truncated payload
        is skipped in permissive mode and raises in strict mode."""
        import base64

        from elric_rs_spark.streaming.pipeline import decode_changes_protobuf
        from tests.test_protowire import enc_database_changes, enc_table_change

        wire = enc_database_changes(enc_table_change("approvals", {"owner": "o1"}))
        df = spark.createDataFrame(
            [
                ("s1", 1, "b1", "c1", base64.b64encode(wire).decode()),
                ("s1", 2, "b2", "c2", base64.b64encode(wire[:-3]).decode()),
            ],
            "stream_id string, block_num long, block_id string, "
            "cursor string, payload string",
        )
        good = decode_changes_protobuf(df, mode="permissive").collect()
        assert [(r.block_num, r.row_map) for r in good] == [(1, {"owner": "o1"})]
        with pytest.raises(Exception, match="ProtoWireError|truncated"):
            decode_changes_protobuf(df, mode="strict").collect()


class TestCheckpointRestart:
    def test_kill_and_resume_no_loss_no_dup(self, spark, tmpdir):
        """Crash-recovery engine-native (VERDICT r04 next-round #6; ref
        main.rs:299-310): kill a run_pipeline stream mid-flight (the
        engine, not the reader), restart against the SAME checkpoint dir,
        and prove (a) the file source's checkpoint resumes where the
        killed query stopped — blocks landed while the engine was down
        (15..34, finalized by the still-running reader) drain after
        restart, run-1 files are not re-read, (b) the exactly-once read
        view has every finalized block EXACTLY once (a replayed epoch may
        double raw rows; the read view must collapse them), (c) cursor
        recovery returns the latest flushed block of the SECOND run."""
        import time

        landing, ckpt, out = (f"{tmpdir}/{d}" for d in ("landing", "ckpt", "out"))
        sink = TypedPerTableSink(out, {"approvals": APPROVALS_SCHEMA})

        # phase 1: land 20 blocks, run live (processing-time trigger),
        # kill as soon as the first flush proves mid-flight progress
        land_blocks(spark, _blocks(20, reorg_depth=5), landing)
        q = run_pipeline(spark, landing, ckpt, sink, available_now=False)
        try:
            import os

            deadline = time.monotonic() + 90
            while time.monotonic() < deadline and not os.path.exists(f"{out}/cursors"):
                time.sleep(0.5)
        finally:
            q.stop()  # the kill: mid-stream, whatever epoch was in flight
            q.awaitTermination(30)

        # phase 2: more blocks arrive while the engine is down
        land_blocks(
            spark,
            [dict(b, block_num=b["block_num"], cursor=b["cursor"])
             for b in _blocks(40, reorg_depth=5)[20:]],
            landing,
        )

        # phase 3: restart on the same checkpoint; drain everything
        q2 = run_pipeline(spark, landing, ckpt, sink, available_now=True)
        q2.awaitTermination(180)

        # watermark at block 39 is 34 -> exactly blocks 0..34 finalized,
        # each exactly once in the read view (owner is the approvals PK)
        from elric_rs_spark.streaming.sink import read_exactly_once

        rows = read_exactly_once(spark, out, "approvals", ["owner"]).collect()
        assert sorted(r.block_num for r in rows) == list(range(35))
        # blocks the reader buffered at the kill (15..19) landed and
        # flushed in run 2, and the file source's checkpoint did not
        # re-read run-1 files
        assert load_persisted_cursor(spark, out, "s1") == "34"
