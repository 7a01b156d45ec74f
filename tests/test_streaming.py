"""Streaming-core tests mirroring the reference's own loader tests
(ref loader.rs:272-402: test_undo_block_signal, test_buffer,
test_process_data) plus Spark-native end-to-end checks:

- FinalityBuffer state machine (pure Python, exact reference semantics)
- ReconnectingReader backoff/resume (ref substreams_stream.rs:53-149)
- reader-side finality in land_blocks, tailed by a real Structured
  Streaming query, and a reader restart from resume_cursor
- TypedPerTableSink fan-out + cursor write ordering + recovery
"""

from __future__ import annotations

import json
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.streaming.finality import Block, FinalityBuffer
from elric_rs_spark.streaming.pipeline import TypedPerTableSink
from elric_rs_spark.streaming.sink import load_persisted_cursor
from elric_rs_spark.streaming.source import (
    BLOCK_STREAM_SCHEMA,
    FatalStreamError,
    ReconnectingReader,
    demux,
    fixture_replay,
    land_blocks,
    read_block_stream,
    resume_cursor,
)


def mk_block(num: int, final_height: int) -> Block:
    return Block(num, f"blk-{num:08d}", str(num), final_height)


# ---------------------------------------------------------------------------
# 1. FinalityBuffer — the reference's three loader tests, translated.
# ---------------------------------------------------------------------------


class TestFinalityBuffer:
    def test_undo_block_signal(self):
        """ref loader.rs:272-302: buffer blocks 0..=12 (none final), undo at
        8 -> buffer holds exactly 0..=8."""
        buf = FinalityBuffer()
        for n in range(13):
            buf.push(mk_block(n, final_height=0))
        # one overflow flush happened at the 13th push (cap 12)
        assert [b.block_num for b in buf.buffer] == list(range(1, 13))
        dropped = buf.undo(last_valid_block=8)
        assert dropped == 4
        assert [b.block_num for b in buf.buffer] == list(range(1, 9))

    def test_buffer_final_passthrough(self):
        """ref loader.rs:304-350 (a): already-final blocks emit immediately,
        one by one; buffer stays empty."""
        buf = FinalityBuffer()
        for n in range(5):
            out = buf.push(mk_block(n, final_height=n))
            assert [b.block_num for b in out] == [n]
        assert buf.buffer == []

    def test_buffer_holds_nonfinal(self):
        """ref loader.rs:327-338 (b): 12 non-final blocks all buffer.
        Blocks are numbered from 1 (as in the reference test) because
        block 0 against watermark 0 is final by 0 <= 0."""
        buf = FinalityBuffer()
        emitted = []
        for n in range(1, 13):
            emitted += buf.push(mk_block(n, final_height=0))
        assert emitted == []
        assert len(buf.buffer) == 12

    def test_buffer_overflow_flush(self):
        """ref loader.rs:339-349 (c): a 13th non-final block forces the
        oldest out (bounded memory beats strict finality, loader.rs:92-101)."""
        buf = FinalityBuffer()
        for n in range(1, 13):
            buf.push(mk_block(n, final_height=0))
        out = buf.push(mk_block(14, final_height=0))
        assert [b.block_num for b in out] == [1]
        assert len(buf.buffer) == 12

    def test_watermark_prefix_emission(self):
        """A rising final_block_height flushes exactly the <=-watermark
        prefix (ref loader.rs:82-91)."""
        buf = FinalityBuffer()
        for n in range(1, 7):
            buf.push(mk_block(n, final_height=0))
        out = buf.push(mk_block(7, final_height=3))
        assert [b.block_num for b in out] == [1, 2, 3]
        assert [b.block_num for b in buf.buffer] == [4, 5, 6, 7]

    def test_undo_never_touches_emitted(self):
        """Undo drops only buffered rows; what was emitted stays emitted
        (ref loader.rs:177-193 + README.md:16 design intent)."""
        buf = FinalityBuffer()
        emitted = []
        for n in range(6):
            emitted += buf.push(mk_block(n, final_height=2))
        assert [b.block_num for b in emitted] == [0, 1, 2]
        buf.undo(last_valid_block=0)  # below everything emitted
        assert [b.block_num for b in emitted] == [0, 1, 2]  # unchanged
        assert buf.buffer == []


# ---------------------------------------------------------------------------
# 2. ReconnectingReader — backoff / cursor-resume / fatal classification.
# ---------------------------------------------------------------------------


class TestReconnectingReader:
    def test_resumes_from_latest_cursor(self):
        seen_cursors = []

        def connect(cursor):
            seen_cursors.append(cursor)
            start = int(cursor) + 1 if cursor else 0
            for n in range(start, start + 3):
                yield {"msg_type": "new", "block_num": n, "cursor": str(n)}
            if len(seen_cursors) < 3:
                raise ConnectionError("flaky upstream")

        sleeps = []
        reader = ReconnectingReader(connect=connect, sleep=sleeps.append)
        nums = [m["block_num"] for m in reader]
        # 3 connects, each resuming one past the last delivered cursor
        assert seen_cursors == [None, "2", "5"]
        assert nums == list(range(9))
        assert len(sleeps) == 2  # one backoff per reconnect

    def test_backoff_doubles_and_resets_on_progress(self):
        attempts = []

        def connect(cursor):
            attempts.append(cursor)
            if len(attempts) <= 3:
                raise ConnectionError("down")  # no progress: backoff grows
            yield {"msg_type": "new", "block_num": 0, "cursor": "0"}

        sleeps = []
        reader = ReconnectingReader(connect=connect, sleep=sleeps.append)
        list(reader)
        assert sleeps == [0.010, 0.020, 0.040]

    def test_fatal_error_not_retried(self):
        def connect(cursor):
            raise FatalStreamError("Unauthenticated")
            yield  # pragma: no cover

        reader = ReconnectingReader(connect=connect, sleep=lambda s: None)
        with pytest.raises(FatalStreamError):
            list(reader)

    def test_demux_drops_progress_and_session(self):
        msgs = [
            {"msg_type": "session"},
            {"msg_type": "new", "block_num": 1},
            {"msg_type": "progress"},
            {"msg_type": "undo", "last_valid_block": 0},
        ]
        assert [m["msg_type"] for m in demux(msgs)] == ["new", "undo"]


# ---------------------------------------------------------------------------
# 3. End-to-end: land_blocks (finality on the reader thread) -> landing
#    dir -> readStream -> memory sink (the Spark-native form of ref
#    loader.rs:358-402 test_process_data).
# ---------------------------------------------------------------------------


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="elric_stream_") as d:
        yield d


def _blocks(spark, n_blocks: int, reorg_depth: int, undo_at=None, undo_to=None):
    msgs = []
    for n in range(n_blocks):
        msgs.append(
            {
                "stream_id": "s1",
                "msg_type": "new",
                "block_num": n,
                "block_id": f"blk-{n:08d}",
                "block_ts": None,
                "cursor": str(n),
                "final_block_height": max(n - reorg_depth, 0),
                "last_valid_block": None,
                "payload": f'{{"v": {n}}}',
            }
        )
        if undo_at is not None and n == undo_at:
            msgs.append(
                {
                    "stream_id": "s1",
                    "msg_type": "undo",
                    "block_num": n,
                    "block_id": None,
                    "block_ts": None,
                    "cursor": None,
                    "final_block_height": None,
                    "last_valid_block": undo_to,
                    "payload": None,
                }
            )
    return msgs


def _run_stream(spark, landing, checkpoint, sink_name):
    q = (
        read_block_stream(spark, landing).writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name)


def _max_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job events reach the store async
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _landed(spark, landing):
    return spark.read.schema(BLOCK_STREAM_SCHEMA).parquet(landing)


class TestLanding:
    """land_blocks writes each chunk's final blocks as one pyarrow parquet
    file, renamed into place from a hidden temp name, without a Spark
    job."""

    def test_one_file_per_chunk_same_values_as_create_dataframe(self, spark, tmpdir):
        import datetime

        import pyarrow.parquet as pq

        utc = datetime.timezone.utc
        blocks = [
            {"stream_id": "s1", "msg_type": "new", "block_num": 1, "block_id": "b1",
             "block_ts": datetime.datetime(2024, 8, 7, 12, 0, 0, 123456),  # naive
             "cursor": "c1", "final_block_height": 1, "last_valid_block": None,
             "payload": '{"v": 1}'},
            {"stream_id": "s1", "msg_type": "new", "block_num": 2**31 + 7,
             "block_id": "b2", "block_ts": datetime.datetime(2024, 8, 7, tzinfo=utc),
             "cursor": "c2", "final_block_height": 2**31 + 7, "last_valid_block": None,
             "payload": None},
            {"stream_id": None, "msg_type": "new", "block_num": 3, "block_id": None,
             "block_ts": None, "cursor": None, "final_block_height": 3,
             "last_valid_block": None, "payload": None},
            # missing keys land as null
            {"msg_type": "new", "block_num": 4, "final_block_height": 4},
        ]
        msgs = blocks + [
            # already-final blocks are past any undo
            {"stream_id": "s1", "msg_type": "undo", "block_num": 2, "block_id": None,
             "block_ts": None, "cursor": "c1", "final_block_height": None,
             "last_valid_block": 1, "payload": None},
            # a null watermark never finalizes a block
            {"stream_id": "s2", "msg_type": "new", "block_num": 5, "block_id": "b5",
             "final_block_height": None},
        ]
        landing = f"{tmpdir}/landing"
        jobs_before = _max_job_id(spark)
        assert land_blocks(spark, msgs, landing) == len(blocks)
        assert _max_job_id(spark) == jobs_before  # no Spark job started

        names = os.listdir(landing)
        assert len(names) == 1 and names[0].endswith(".parquet")
        assert not names[0].startswith(".")  # no leftover temp file

        got = _landed(spark, landing).orderBy("seq").collect()
        seqs = [r.seq for r in got]
        assert seqs == list(range(seqs[0], seqs[0] + len(blocks)))
        # the undo row and the held-back block are not on disk
        assert [r.block_num for r in got] == [1, 2**31 + 7, 3, 4]
        assert "msg_type" not in pq.read_schema(f"{landing}/{names[0]}").names
        # the same blocks through createDataFrame (the old landing path)
        expected = spark.createDataFrame(
            [{**m, "seq": q} for m, q in zip(blocks, seqs)], BLOCK_STREAM_SCHEMA
        ).orderBy("seq")
        assert got == expected.collect()
        us = F.unix_micros("block_ts").alias("us")
        assert (_landed(spark, landing).orderBy("seq").select(us).collect()
                == expected.select(us).collect())

    def test_chunk_files_stamped_in_seq_order(self, spark, tmpdir, monkeypatch):
        """The file source orders new files by mtime (ms); chunks written
        within one millisecond still carry strictly increasing mtimes in
        seq order, across calls too."""
        from elric_rs_spark.streaming import source as src

        real_write = src.pq.write_table

        def write_same_ms(table, where, **kw):
            real_write(table, where, **kw)
            os.utime(where, ns=(1_700_000_000_000_000_000,) * 2)

        monkeypatch.setattr(src.pq, "write_table", write_same_ms)
        landing = f"{tmpdir}/landing"
        # final blocks (watermark = block_num): every chunk lands a file
        land_blocks(spark, _blocks(spark, 30, reorg_depth=0), landing, batch_size=1)
        land_blocks(spark, _blocks(spark, 30, reorg_depth=0), landing, batch_size=2)
        names = sorted(os.listdir(landing))
        assert len(names) == 45
        mtimes = [os.stat(f"{landing}/{n}").st_mtime_ns // 1_000_000 for n in names]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:]))

    def test_failed_chunk_leaves_no_file(self, spark, tmpdir, monkeypatch):
        from elric_rs_spark.streaming import source as src

        landing = f"{tmpdir}/landing"
        bad = _blocks(spark, 4, reorg_depth=0)
        bad[3]["block_num"] = "x"
        with pytest.raises((TypeError, ValueError)):
            land_blocks(spark, bad, landing, batch_size=2)
        assert len(os.listdir(landing)) == 1  # the first chunk only
        assert _landed(spark, landing).count() == 2

        real_write = src.pq.write_table

        def write_then_fail(table, where, **kw):
            real_write(table, where, **kw)
            raise OSError("disk full")

        monkeypatch.setattr(src.pq, "write_table", write_then_fail)
        with pytest.raises(OSError):
            land_blocks(spark, _blocks(spark, 2, reorg_depth=1), landing)
        assert len(os.listdir(landing)) == 1  # temp file unlinked

    def test_stray_temp_file_is_never_read(self, spark, tmpdir):
        """A crash between write and rename leaves a hidden temp file:
        neither the restart read of the max seq nor the stream sees it."""
        import pyarrow.parquet as pq

        from elric_rs_spark.streaming import source as src

        landing = f"{tmpdir}/landing"
        land_blocks(spark, _blocks(spark, 5, reorg_depth=0), landing)
        stray = src._chunk_table(_blocks(spark, 5, reorg_depth=0), list(range(100, 105)))
        pq.write_table(stray, f"{landing}/.part-{100:020d}.parquet.tmp")
        src._READERS.clear()  # simulate a fresh process
        land_blocks(spark, _blocks(spark, 5, reorg_depth=0), landing)

        q = (
            read_block_stream(spark, landing).writeStream.format("memory")
            .queryName("landing_stray_tmp")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        seqs = sorted(r.seq for r in spark.table("landing_stray_tmp").collect())
        assert seqs == list(range(10))

    def test_deleted_dir_starts_fresh(self, spark, tmpdir):
        """A landing dir deleted and recreated within one process is a
        new stream: blocks buffered for the old dir never land in it."""
        import shutil

        landing = f"{tmpdir}/landing"
        held = _blocks(spark, 5, reorg_depth=10)[1:]  # 1..4, none final
        assert land_blocks(spark, held, landing) == 0
        shutil.rmtree(landing)
        fresh = [dict(m, block_id=f"new-{m['block_num']}")
                 for m in _blocks(spark, 3, reorg_depth=0)]
        assert land_blocks(spark, fresh, landing) == 3
        got = _landed(spark, landing).orderBy("seq").collect()
        assert [(r.seq, r.block_id) for r in got] == [(0, "new-0"), (1, "new-1"), (2, "new-2")]


class TestStatefulFinalityStreaming:
    def test_finality_end_to_end(self, spark, tmpdir):
        """40 blocks, watermark trails by 5: every block with block_num <=
        final watermark of the last message must be emitted, in order, and
        nothing above the tail watermark unless overflow-flushed."""
        landing = f"{tmpdir}/landing"
        n = land_blocks(spark, _blocks(spark, 40, reorg_depth=5), landing)
        assert n == 35  # rows landed: 35..39 stay in the reader's buffer
        got = _run_stream(spark, landing, f"{tmpdir}/ckpt", "fin_e2e")
        nums = [r.block_num for r in got.orderBy("block_num").collect()]
        # final watermark at block 39 is 34 -> 0..=34 emitted via finality;
        # buffer holds 35..39 (5 rows < cap 12, no overflow).
        assert nums == list(range(35))

    def test_undo_in_stream(self, spark, tmpdir):
        """Undo at block 20 back to 15: blocks 16..20 (buffered, non-final)
        are retracted and never reach the sink until re-announced."""
        landing = f"{tmpdir}/landing"
        # reorg_depth 25 -> watermark 0 for the first 25 blocks: everything
        # below the undo point is still buffered when the undo arrives.
        land_blocks(
            spark, _blocks(spark, 21, reorg_depth=25, undo_at=20, undo_to=15), landing
        )
        got = _run_stream(spark, landing, f"{tmpdir}/ckpt", "fin_undo")
        # nothing became final (watermark stayed 0 -> only block 0 emitted)
        nums = [r.block_num for r in got.orderBy("block_num").collect()]
        assert 16 not in nums and 20 not in nums

    def test_reorg_replacement_ordering(self, spark, tmpdir):
        """Undo + same-numbered replacement blocks inside ONE micro-batch
        must apply in arrival order. block_num alone cannot order this: the
        undo row carries block_num 7, the dropped block is 7, and the
        post-reorg chain re-announces 6/7 — a block_num sort (or an
        unstable sort on ties) could drop the replacements or keep the
        stale blocks. The seq column stamped by land_blocks makes the
        kernel replay exact arrival order (ADVICE r01 finality flag)."""

        def new(n, bid, fh=0):
            return {
                "stream_id": "s1",
                "msg_type": "new",
                "block_num": n,
                "block_id": bid,
                "block_ts": None,
                "cursor": str(n),
                "final_block_height": fh,
                "last_valid_block": None,
                "payload": None,
            }

        msgs = [new(n, f"blk-{n}") for n in range(8)]
        msgs.append(
            {
                "stream_id": "s1",
                "msg_type": "undo",
                "block_num": 7,
                "block_id": None,
                "block_ts": None,
                "cursor": None,
                "final_block_height": None,
                "last_valid_block": 5,
                "payload": None,
            }
        )
        msgs += [new(6, "blk-R6"), new(7, "blk-R7"), new(8, "blk-8", fh=8)]
        landing = f"{tmpdir}/landing"
        land_blocks(spark, msgs, landing)
        got = _run_stream(spark, landing, f"{tmpdir}/ckpt", "fin_reorg")
        rows = got.collect()
        ids = {r.block_num: r.block_id for r in rows}
        assert ids[6] == "blk-R6" and ids[7] == "blk-R7"
        assert len(rows) == 9  # 0..8 exactly once, reorged ids for 6/7

    def test_seq_continues_across_process_restart(self, spark, tmpdir):
        """The arrival counter must resume from the max seq already in the
        landing dir after a process restart — a counter restarting at 0
        would reuse the landed files' names and put post-restart rows
        before pre-restart ones in arrival order."""
        from elric_rs_spark.streaming import source as src

        landing = f"{tmpdir}/landing"
        land_blocks(spark, _blocks(spark, 5, reorg_depth=0), landing)
        src._READERS.clear()  # simulate a fresh process
        land_blocks(spark, _blocks(spark, 5, reorg_depth=0), landing)
        seqs = sorted(
            r.seq for r in spark.read.schema(BLOCK_STREAM_SCHEMA)
            .parquet(landing).select("seq").collect()
        )
        assert len(seqs) == 10 and len(set(seqs)) == 10  # no overlap
        assert seqs == list(range(seqs[0], seqs[0] + 10))  # contiguous

    def test_fixture_replay_shape(self, spark):
        msgs = fixture_replay(spark, "/root/testdata/sf0.001", undo_at=50)
        assert any(m["msg_type"] == "undo" for m in msgs)
        news = [m for m in msgs if m["msg_type"] == "new"]
        assert all(
            m["final_block_height"] == max(m["block_num"] - 12, 0) for m in news
        )


# ---------------------------------------------------------------------------
# 4. Sink: per-table fan-out, data-then-cursor ordering, cursor recovery.
# ---------------------------------------------------------------------------


def _change_blocks(spark, blocks):
    """Finalized-block rows as the sink receives them: `blocks` is
    [(block_num, [(table, fields), ...]), ...], one JSON change-set
    payload per block."""
    return spark.createDataFrame(
        [
            ("s1", n, f"blk-{n}", str(n),
             json.dumps([{"table": t, "fields": f, "pk": {}} for t, f in changes]))
            for n, changes in blocks
        ],
        "stream_id string, block_num long, block_id string, cursor string, "
        "payload string",
    )


class TestSink:
    def test_fanout_and_cursor_recovery(self, spark, tmpdir):
        sink = TypedPerTableSink(
            tmpdir, {"transfers": {"v": "String"}, "approvals": {"v": "String"}}
        )
        batch = _change_blocks(spark, [
            (7, [("transfers", {"v": "7"}), ("approvals", {"v": "7"})]),
            (8, [("transfers", {"v": "8"})]),
        ])
        sink.write_batch(batch, epoch_id=0)
        assert set(os.listdir(f"{tmpdir}/data")) == {"transfers", "approvals"}
        transfers = spark.read.parquet(f"{tmpdir}/data/transfers")
        assert transfers.count() == 2
        assert "table" not in transfers.columns
        assert spark.read.parquet(f"{tmpdir}/data/approvals").count() == 1
        # S7 recovery: latest cursor by block_num (ref main.rs:299-310)
        assert load_persisted_cursor(spark, tmpdir, "s1") == "8"
        assert load_persisted_cursor(spark, tmpdir, "nope") is None

    def test_cursor_recovery_reads_declared_schema(self, spark, tmpdir):
        """A missing `cursors` dir is "no cursor"; the load of a present
        one runs only its own collect job (no schema inference)."""
        assert load_persisted_cursor(spark, tmpdir, "s1") is None
        sink = TypedPerTableSink(tmpdir, {"transfers": {"v": "String"}})
        sink.write_batch(
            _change_blocks(spark, [(7, [("transfers", {"v": "7"})])]), epoch_id=0
        )
        before = _max_job_id(spark)
        assert load_persisted_cursor(spark, tmpdir, "s1") == "7"
        assert _max_job_id(spark) - before == 1

    def test_unreadable_cursor_raises(self, spark, tmpdir):
        """A corrupt cursor file must not read as "no cursor", which
        would restart the stream from the beginning."""
        os.makedirs(f"{tmpdir}/cursors")
        with open(f"{tmpdir}/cursors/part-{0:020d}.parquet", "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            load_persisted_cursor(spark, tmpdir, "s1")

    def test_epoch_replay_detectable(self, spark, tmpdir):
        """Retried epochs are written with the same epoch_id (a replay of
        the same batch replaces its own files), so exact-once consumers
        can dedup on (epoch_id, block_num) — the parquet analogue of
        ReplacingMergeTree idempotence (README.md:9-11)."""
        sink = TypedPerTableSink(tmpdir, {"t": {"v": "String"}})
        batch = _change_blocks(spark, [(1, [("t", {"v": "x"})])])
        sink.write_batch(batch, epoch_id=5)
        sink.write_batch(batch, epoch_id=5)  # replay
        df = spark.read.parquet(f"{tmpdir}/data/t")
        assert df.count() == 1
        dedup = df.dropDuplicates(["epoch_id", "block_num"])
        assert dedup.count() == 1

    def test_cursor_never_ahead_of_data(self, spark, tmpdir):
        """T9 ordering: the cursor row is written only after the data write
        of the same epoch succeeded — verified here by checking both sides
        exist for the epoch (the write order is enforced in write_batch)."""
        sink = TypedPerTableSink(tmpdir, {"t": {"v": "String"}})
        batch = _change_blocks(spark, [(3, [("t", {"v": "x"})])])
        sink.write_batch(batch, epoch_id=1)
        cursors = spark.read.parquet(f"{tmpdir}/cursors")
        data = spark.read.parquet(f"{tmpdir}/data/t")
        assert cursors.filter(F.col("epoch_id") == 1).count() == 1
        assert data.filter(F.col("epoch_id") == 1).count() == 1


def _upstream(msgs, drop_after=None):
    """`connect(cursor)` over a fixed message list: resumes after the
    last message carrying `cursor` (an undo carries its last valid
    block's cursor) and drops the connection once, right after
    delivering message `drop_after`."""

    def connect(cursor):
        nonlocal drop_after
        start = 0
        if cursor is not None:
            start = 1 + max(i for i, m in enumerate(msgs) if m.get("cursor") == cursor)
        for i in range(start, len(msgs)):
            yield msgs[i]
            if i == drop_after:
                drop_after = None
                raise ConnectionError("upstream reset")

    return connect


class TestRestartRecovery:
    """The reader's finality buffers live in memory, as the reference's
    do (ref loader.rs:195-210): a crash loses them, and the restarted
    reader resumes upstream from the last landed block."""

    @staticmethod
    def _drain(spark, landing, ckpt, out):
        from tests.test_pipeline import APPROVALS_SCHEMA

        from elric_rs_spark.streaming.pipeline import run_pipeline

        sink = TypedPerTableSink(out, {"approvals": APPROVALS_SCHEMA})
        run_pipeline(spark, landing, ckpt, sink).awaitTermination(120)

    @staticmethod
    def _read_view(spark, out):
        from elric_rs_spark.streaming.sink import read_exactly_once

        return sorted(
            (r.block_num, r.block_id, r.owner, r.spender, r.amount)
            for r in read_exactly_once(spark, out, "approvals", ["owner"]).collect()
        )

    def test_reader_crash_loses_nothing(self, spark, tmpdir):
        """Blocks 15..19 are buffered (not final, so not landed) when the
        reader process dies. The new process starts with empty buffers,
        resumes upstream after resume_cursor (block 14), and the sink's
        read view holds blocks 0..34 exactly once, as a clean run's does."""
        from tests.test_pipeline import _blocks as _pipeline_blocks

        from elric_rs_spark.streaming import source as src

        msgs = _pipeline_blocks(40, reorg_depth=5)
        landing, ckpt, out = (f"{tmpdir}/{d}" for d in ("landing", "ckpt", "out"))
        assert land_blocks(spark, msgs[:20], landing) == 15  # 0..14
        self._drain(spark, landing, ckpt, out)

        src._READERS.clear()  # the crash: a fresh process
        cursor = resume_cursor(spark, landing, "s1")
        assert cursor == "14"
        reader = ReconnectingReader(_upstream(msgs), latest_cursor=cursor)
        assert land_blocks(spark, demux(reader), landing) == 20  # 15..34
        self._drain(spark, landing, ckpt, out)

        got = self._read_view(spark, out)
        assert [r[0] for r in got] == list(range(35)), "gap or duplicate"
        clean = f"{tmpdir}/clean"
        land_blocks(spark, msgs, f"{clean}/landing")
        self._drain(spark, f"{clean}/landing", f"{clean}/ckpt", f"{clean}/out")
        assert got == self._read_view(spark, f"{clean}/out")

    def test_failed_landing_resumes_like_a_crash(self, spark, tmpdir):
        """land_blocks failing mid-stream (here upstream gives up while
        blocks 15..19 are buffered and 20..24 are in an unfinished chunk)
        drops the dir's reader state as a crash would, so resuming from
        resume_cursor in the same process lands every block once."""
        msgs = _blocks(spark, 40, reorg_depth=5)
        landing = f"{tmpdir}/landing"
        reader = ReconnectingReader(_upstream(msgs, drop_after=24), max_attempts=1)
        with pytest.raises(ConnectionError):
            land_blocks(spark, demux(reader), landing, batch_size=10)
        cursor = resume_cursor(spark, landing, "s1")
        assert cursor == "14"
        reader = ReconnectingReader(_upstream(msgs), latest_cursor=cursor)
        land_blocks(spark, demux(reader), landing, batch_size=10)
        nums = sorted(r.block_num for r in _landed(spark, landing).collect())
        assert nums == list(range(35))

    def test_reconnect_keeps_buffers(self, spark, tmpdir):
        """A reconnect inside one process, with an undo in flight (the
        connection drops right after the undo, which orphans buffered
        blocks 16..20), lands the same files as an unbroken stream: the
        reader resumes from the undo's cursor and its buffers survive."""
        import pyarrow.parquet as pq

        msgs = _blocks(spark, 21, reorg_depth=6, undo_at=20, undo_to=15)
        undo = next(i for i, m in enumerate(msgs) if m["msg_type"] == "undo")
        msgs[undo]["cursor"] = "15"  # the undo's last valid cursor
        msgs += [
            dict(m, block_id=f"fork-{m['block_num']}", cursor=f"f{m['block_num']}")
            for m in _blocks(spark, 30, reorg_depth=6)[16:]
        ]

        def land(name, messages):
            landing = f"{tmpdir}/{name}"
            n = land_blocks(spark, demux(messages), landing, batch_size=4)
            files = sorted(os.listdir(landing))
            return n, [(f, pq.read_table(f"{landing}/{f}").to_pylist()) for f in files]

        unbroken = land("unbroken", msgs)
        connects = []

        def connect(cursor):
            connects.append(cursor)
            return upstream(cursor)

        upstream = _upstream(msgs, drop_after=undo)
        broken = land("broken", ReconnectingReader(connect, sleep=lambda s: None))
        assert connects == [None, "15"]  # resumed behind the reorg
        assert broken == unbroken
        rows = [r for _, chunk in unbroken[1] for r in chunk]
        assert [(r["block_num"], r["block_id"]) for r in rows] == (
            [(n, f"blk-{n:08d}") for n in range(16)]
            + [(n, f"fork-{n}") for n in range(16, 24)]
        )


class TestMultiStreamState:
    def test_keyed_state_is_independent(self, spark, tmpdir):
        """The reader keeps one buffer per stream_id: stream A's
        watermark progress must not flush stream B's buffer, even with
        both streams in one landing dir."""
        landing = f"{tmpdir}/landing"
        msgs = []
        for sid, depth in (("sA", 5), ("sB", 1000)):  # sB never finalizes
            for n in range(20):
                msgs.append(
                    {
                        "stream_id": sid,
                        "msg_type": "new",
                        "block_num": n,
                        "block_id": f"{sid}-{n}",
                        "block_ts": None,
                        "cursor": str(n),
                        "final_block_height": max(n - depth, 0),
                        "last_valid_block": None,
                        "payload": None,
                    }
                )
        land_blocks(spark, msgs, landing)
        got = _run_stream(spark, landing, f"{tmpdir}/ckpt", "fin_multi")
        by_stream = {
            r.stream_id: r.n
            for r in got.groupBy("stream_id").agg(F.count("*").alias("n")).collect()
        }
        # sA: watermark reached 14 -> 15 finalized; plus overflow flushes
        # past the 12-cap never happen (buffer holds 5). sB: watermark 0 ->
        # only block 0 final; 19 buffered > cap 12 -> 7 overflow-flushed.
        assert by_stream["sA"] == 15
        assert by_stream["sB"] == 8  # block 0 + 7 overflow


class TestSummingMart:
    """Incremental continuous-aggregate maintenance (streaming/mart.py):
    append-only per-epoch partial sums, merge-on-read — the
    SummingMergeTree delegation trick (ref README.md:9-11) applied to
    aggregates."""

    def _run(self, spark, landing, ckpt, mart):
        stream = read_block_stream(spark, landing)
        q = (
            stream.writeStream.foreachBatch(mart.write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def _blocks(self, lo, hi):
        import datetime

        base = datetime.datetime(2024, 8, 7, 12, 0, 0)
        return [
            {
                "stream_id": f"s{n % 3}",
                "msg_type": "new",
                "block_num": n,
                "block_id": f"blk-{n}",
                "block_ts": base + datetime.timedelta(minutes=n),
                "cursor": str(n),
                "final_block_height": n,
                "last_valid_block": None,
                "payload": None,
            }
            for n in range(lo, hi)
        ]

    def test_incremental_equals_batch(self, spark, tmpdir):
        from elric_rs_spark.streaming.mart import SummingMart

        landing = f"{tmpdir}/landing"
        mart = SummingMart(tmpdir, ["stream_id"], "block_num")
        # wave 1
        land_blocks(spark, self._blocks(0, 40), landing)
        self._run(spark, landing, f"{tmpdir}/ckpt", mart)
        # wave 2 arrives later; SAME checkpoint continues incrementally
        land_blocks(spark, self._blocks(40, 100), landing)
        self._run(spark, landing, f"{tmpdir}/ckpt", mart)

        got = {
            r.stream_id: (r.sum_block_num, r.n_rows)
            for r in mart.read(spark).collect()
        }
        expect = {}
        for n in range(100):
            k = f"s{n % 3}"
            s, c = expect.get(k, (0, 0))
            expect[k] = (s + n, c + 1)
        assert got == expect

        # replayed epoch: re-append epoch 0's partials verbatim (the
        # crash-replay shape) — merge-on-read must collapse them
        parts = spark.read.parquet(mart.path)
        e0 = parts.filter(F.col("epoch_id") == parts.agg(F.min("epoch_id")).collect()[0][0])
        e0.write.mode("append").parquet(mart.path)
        got2 = {
            r.stream_id: (r.sum_block_num, r.n_rows)
            for r in mart.read(spark).collect()
        }
        assert got2 == expect

        # pin e0's rows before compaction deletes its backing files
        e0 = spark.createDataFrame(e0.collect(), e0.schema)

        # compaction preserves the merged result and shrinks partials
        n_before = spark.read.parquet(mart.path).count()
        mart.compact(spark)
        n_after = spark.read.parquet(mart.path).count()
        assert n_after <= n_before and n_after == len(expect)
        got3 = {
            r.stream_id: (r.sum_block_num, r.n_rows)
            for r in mart.read(spark).collect()
        }
        assert got3 == expect

        # replay AFTER compaction (ADVICE r03, medium): a crashed run's
        # last epoch was folded by compact() but never checkpoint-
        # committed, so the restarted stream re-appends the same
        # partials; they no longer tie with any (key, epoch) row, and
        # without the compaction watermark read() would double-count
        e0.write.mode("append").parquet(mart.path)
        got4 = {
            r.stream_id: (r.sum_block_num, r.n_rows)
            for r in mart.read(spark).collect()
        }
        assert got4 == expect
        # a genuinely NEW epoch (> watermark) still lands normally
        new_epoch = e0.withColumn("epoch_id", F.lit(10_000))
        new_epoch.write.mode("append").parquet(mart.path)
        got5 = {
            r.stream_id: (r.sum_block_num, r.n_rows)
            for r in mart.read(spark).collect()
        }
        e0_rows = {r.stream_id: (r.partial_sum, r.partial_n) for r in e0.collect()}
        expect5 = {
            k: (s + e0_rows[k][0], c + e0_rows[k][1]) if k in e0_rows else (s, c)
            for k, (s, c) in expect.items()
        }
        assert got5 == expect5


    def test_interrupted_compaction_is_refused(self, spark, tmpdir, monkeypatch):
        """A crash between the compaction swap's steps leaves the store
        missing next to its `__compact` sibling. The restarted writer
        must refuse it: appending a fresh store would turn
        [('a', 3, 3), ('b', 6, 3)] into [('a', 1, 1)], with the folded
        history left unread in the sibling."""
        import os

        from elric_rs_spark.streaming.mart import SummingMart

        class Crash(Exception):
            pass

        mart = SummingMart(str(tmpdir), ["k"], "v")
        for e in range(3):
            batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
            mart.write_batch(batch, e)
        assert sorted(tuple(r) for r in mart.read(spark).collect()) == [
            ("a", 3, 3), ("b", 6, 3)]

        rename = os.rename

        def crash_before_move_in(src, dst):
            if str(src).endswith("__compact"):
                raise Crash(src)
            return rename(src, dst)

        monkeypatch.setattr(os, "rename", crash_before_move_in)
        with pytest.raises(Crash):
            mart.compact(spark)
        monkeypatch.undo()
        assert not os.path.isdir(mart.path)
        assert os.path.isdir(f"{mart.path}__compact")

        restarted = SummingMart(str(tmpdir), ["k"], "v")
        batch = spark.createDataFrame([("a", 1)], "k string, v long")
        with pytest.raises(RuntimeError, match="interrupted"):
            restarted.write_batch(batch, 3)
        with pytest.raises(RuntimeError, match="interrupted"):
            restarted.read(spark)
        assert not os.path.isdir(mart.path)


class TestStreamStreamIntervalJoin:
    """Stream-stream INNER join with watermarks + a time-range condition
    (the attribution join: each purchase matches clicks by the same user
    in the preceding 5 minutes). Spark buffers both sides in state and
    expires rows past the watermark — the engine-native form of the
    batch q_join_asof/q_join_range family, and the shape a streaming
    enrichment of two live feeds takes at scale. Pins that the session's
    config allows stream-stream state joins and that the time-range
    predicate bounds state (no unconstrained cross-buffer)."""

    def test_attribution_join(self, spark, tmpdir):
        import datetime

        clicks_dir = f"{tmpdir}/clicks"
        purchases_dir = f"{tmpdir}/purchases"
        T0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
        M = datetime.timedelta(minutes=1)
        clicks = [
            (1, T0, 100),            # matches purchase at +3m
            (1, T0 + 10 * M, 101),   # no purchase within 5m after
            (2, T0, 102),            # matches purchase at +5m (inclusive)
            (3, T0 + 2 * M, 103),    # purchase BEFORE click -> no match
        ]
        purchases = [
            (1, T0 + 3 * M, 50.0),
            (2, T0 + 5 * M, 70.0),
            (3, T0 + 1 * M, 99.0),
        ]
        spark.createDataFrame(
            clicks, "user_id long, ts timestamp, click_id long"
        ).write.parquet(clicks_dir)
        spark.createDataFrame(
            purchases, "user_id long, ts timestamp, amount double"
        ).write.parquet(purchases_dir)

        c = (
            spark.readStream.schema("user_id long, ts timestamp, click_id long")
            .parquet(clicks_dir)
            .withWatermark("ts", "10 minutes")
            .select("user_id", F.col("ts").alias("click_ts"), "click_id")
        )
        p = (
            spark.readStream.schema("user_id long, ts timestamp, amount double")
            .parquet(purchases_dir)
            .withWatermark("ts", "10 minutes")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "amount")
        )
        joined = c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attr_join")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_ss")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r.click_id, r.amount) for r in spark.table("attr_join").collect()
        )
        assert got == [(100, 50.0), (102, 70.0)]


def test_sink_roundtrip_leaves_no_fixed_tmp_dir(spark, tmp_path, monkeypatch):
    """q_sink_roundtrip's sink dir lives under the session's SparkFiles
    root, keyed by sf_dir: nothing named elric_rs_spark_sink_roundtrip
    is left in the system temp dir, where it would outlive the session
    and be shared by every concurrent session."""
    from elric_rs_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = registry.QUERIES["q_sink_roundtrip"](spark, SF_DIR).collect()
    assert rows
    assert not (pathlib.Path(tempfile.gettempdir()) / "elric_rs_spark_sink_roundtrip").exists()
