"""Mock-ClickHouse HTTP round-trips for the typed per-table sink's
ClickHouse writer — the Spark twin of the reference's recording-mock
loader test (ref loader.rs:358-402): a local HTTP server records every
INSERT the sink posts and decodes its ArrowStream body; assertions cover
typed Arrow fields, alphabetical column order, one data insert per
table arriving BEFORE the cursor insert, epoch-tagged replay
idempotence, and failure injection (5xx, timeout, the second table
failing after the first landed): the batch raises, no cursor is posted,
and a replay of the same epoch posts the rows of a clean run. No live
ClickHouse anywhere.
"""

from __future__ import annotations

import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pytest

from elric_rs_spark.streaming import http_sink
from elric_rs_spark.streaming.pipeline import TypedPerTableSink, run_pipeline
from elric_rs_spark.streaming.source import land_blocks
from tests.test_pipeline import APPROVALS_SCHEMA, TRANSFERS_SCHEMA, _blocks, _payload
from tests.test_streaming import _change_blocks


class _Recorder:
    """Thread-safe (query, body) log — the test's `test::Mock`.
    `fail(query, n)` -> HTTP status to answer the n-th INSERT into the
    query's table with (None = 200); `delay_s` is slept before answering
    a request that `fail` picked."""

    def __init__(self):
        self.lock = threading.Lock()
        self.requests: list[tuple[str, bytes]] = []
        self.fail = None
        self.delay_s = 0.0
        self.last_at = time.monotonic()

    def record(self, query: str, body: bytes) -> int | None:
        with self.lock:
            n = sum(_table(q) == _table(query) for q, _ in self.requests)
            self.requests.append((query, body))
            self.last_at = time.monotonic()
            return self.fail(query, n) if self.fail else None

    def heal(self, quiet_s: float = 1.0) -> None:
        """Drop the failure rules and the log, once the server has gone
        quiet — a late POST must not count toward the replay."""
        deadline = time.monotonic() + 30
        while time.monotonic() - self.last_at < quiet_s:
            assert time.monotonic() < deadline, "mock never went quiet"
            time.sleep(0.1)
        with self.lock:
            self.fail = None
            self.delay_s = 0.0
            self.requests.clear()

    def tables_in_order(self) -> list[str]:
        return [_table(q) for q, _ in self.requests]

    def rows(self, table: str) -> list[dict]:
        return [r for q, body in self.requests if _table(q) == table
                for r in _arrow(body).to_pylist()]


def _table(query: str) -> str:
    return query.split("INSERT INTO ", 1)[1].split(" ", 1)[0]


def _cols(query: str) -> list[str]:
    return query.split("(", 1)[1].split(")", 1)[0].split(", ")


def _arrow(body: bytes) -> pa.Table:
    return pa.ipc.open_stream(body).read_all()


def _sorted(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: repr(sorted(r.items())))


@pytest.fixture()
def mock_clickhouse():
    rec = _Recorder()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            q = urllib.parse.parse_qs(
                urllib.parse.urlparse(self.path).query
            ).get("query", [""])[0]
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            status = rec.record(q, body)
            if status is not None and rec.delay_s:
                time.sleep(rec.delay_s)
            try:
                self.send_response(status or 200)
                self.end_headers()
            except OSError:  # the client gave up (timeout test)
                pass

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}", rec
    finally:
        srv.shutdown()
        srv.server_close()


def _batch(spark, nums, partitions: int = 1):
    """Finalized blocks, each with one transfers and one approvals change."""
    return _change_blocks(spark, [
        (n, [("transfers", {"v": str(n)}), ("approvals", {"v": str(n)})])
        for n in nums
    ]).repartition(partitions)


CATALOG = {"transfers": {"v": "UInt64"}, "approvals": {"v": "String"}}


class TestHttpSinkRoundTrip:
    def test_fanout_types_order_and_cursor_last(self, spark, mock_clickhouse):
        endpoint, rec = mock_clickhouse
        sink = TypedPerTableSink(endpoint, CATALOG)
        sink.write_batch(_batch(spark, [7, 8], partitions=2), epoch_id=3)

        order = rec.tables_in_order()
        # data inserts first (one per table), the one
        # cursor insert strictly LAST (ref loader.rs:119-122 ordering)
        assert order[-1] == "cursors"
        assert set(order[:-1]) == {"approvals", "transfers"}

        # alphabetical column order in every INSERT (T5 contract)
        for q, _ in rec.requests:
            assert _cols(q) == sorted(_cols(q)), q
            assert q.endswith(" FORMAT ArrowStream"), q

        # typed round-trip of the transfers rows: UInt64 -> decimal(20,0)
        for q, body in rec.requests:
            if _table(q) == "transfers":
                assert _arrow(body).schema.field("v").type == pa.decimal128(20, 0)
        got = [(r["block_id"], r["block_num"], r["epoch_id"], int(r["v"]))
               for r in rec.rows("transfers")]
        assert sorted(got) == [("blk-7", 7, 3, 7), ("blk-8", 8, 3, 8)]

        # cursor payload: max cursor by block_num, epoch-tagged
        assert rec.rows("cursors") == [
            {"block_id": "blk-8", "block_num": 8, "cursor": "8", "epoch_id": 3,
             "stream_id": "s1"},
        ]

    def test_epoch_replay_reposts_same_rows(self, spark, mock_clickhouse):
        """foreachBatch replays a completed epoch after a crash: the sink
        posts the same rows tagged with the SAME epoch_id, so a
        ReplacingMergeTree target collapses them (at-least-once wire,
        exactly-once read — same contract the parquet layout proves via
        read_exactly_once)."""
        endpoint, rec = mock_clickhouse
        sink = TypedPerTableSink(endpoint, CATALOG)
        batch = _batch(spark, [7, 8], partitions=2)
        sink.write_batch(batch, epoch_id=5)
        first = {t: _sorted(rec.rows(t)) for t in ("transfers", "approvals", "cursors")}
        rec.requests.clear()
        sink.write_batch(batch, epoch_id=5)  # replay
        assert {t: _sorted(rec.rows(t)) for t in first} == first


class TestFailureInjection:
    """A failed POST fails its Spark task, the task failure fails the
    batch, and the cursor is never posted; replaying the epoch against
    the healed server posts exactly a clean run's rows."""

    EPOCH = 9
    TABLES = ("approvals", "transfers", "cursors")

    def _clean_rows(self, rec, endpoint, batch):
        TypedPerTableSink(endpoint, CATALOG).write_batch(batch, epoch_id=self.EPOCH)
        rows = {t: _sorted(rec.rows(t)) for t in self.TABLES}
        rec.heal()
        return rows

    def _fail_then_replay(self, rec, endpoint, batch, fail, match, delay_s=0.0):
        clean = self._clean_rows(rec, endpoint, batch)
        assert clean["transfers"] and clean["cursors"]
        rec.fail, rec.delay_s = fail, delay_s
        sink = TypedPerTableSink(endpoint, CATALOG)
        with pytest.raises(Exception, match=match):
            sink.write_batch(batch, epoch_id=self.EPOCH)
        assert "cursors" not in rec.tables_in_order()
        rec.heal()
        sink.write_batch(batch, epoch_id=self.EPOCH)  # the restarted query's replay
        assert rec.tables_in_order()[-1] == "cursors"
        assert {t: _sorted(rec.rows(t)) for t in self.TABLES} == clean

    def test_first_post_500(self, spark, mock_clickhouse):
        endpoint, rec = mock_clickhouse
        batch = _batch(spark, range(4), partitions=2)
        self._fail_then_replay(
            rec, endpoint, batch,
            fail=lambda q, n: 500 if _table(q) == "transfers" and n == 0 else None,
            match="HTTP Error 500",
        )

    def test_hang_past_timeout(self, spark, mock_clickhouse, monkeypatch):
        endpoint, rec = mock_clickhouse
        monkeypatch.setattr(http_sink, "TIMEOUT_S", 0.5)
        batch = _batch(spark, range(4), partitions=2)
        self._fail_then_replay(
            rec, endpoint, batch,
            fail=lambda q, n: 200 if _table(q) == "approvals" and n == 0 else None,
            match="timed out", delay_s=2.0,
        )

    def test_one_partition_of_many_fails(self, spark, mock_clickhouse):
        """A batch of 4 partitions still makes one INSERT per table; the
        second table's INSERT fails after the first table's landed."""
        endpoint, rec = mock_clickhouse
        batch = _batch(spark, range(16), partitions=4)
        assert batch.rdd.getNumPartitions() == 4

        def fail(q, n):
            if _table(q) == "transfers":
                assert rec.tables_in_order() == ["approvals", "transfers"]
                return 500
            return None

        self._fail_then_replay(rec, endpoint, batch, fail=fail, match="HTTP Error 500")


class TestLoaderIntoMock:
    def test_run_pipeline_into_mock(self, spark, mock_clickhouse, tmp_path):
        """The reference's `test::Mock` loader test (ref loader.rs:358-402)
        on the live-wire path: finality + undo -> decode -> typed cast ->
        ArrowStream INSERTs, cursor last."""
        endpoint, rec = mock_clickhouse
        # blocks 0..15 (watermark n-5), then an undo back to 12 orphans the
        # buffered 13..15, and a fork 13..24 replaces them; the watermark at
        # fork block 24 is 19, so 0..12 + fork 13..19 are final
        msgs = _blocks(16, reorg_depth=5)
        msgs.append({
            "stream_id": "s1", "msg_type": "undo", "block_num": 15,
            "block_id": None, "block_ts": None, "cursor": None,
            "final_block_height": None, "last_valid_block": 12, "payload": None,
        })
        msgs += [
            {
                "stream_id": "s1", "msg_type": "new", "block_num": n,
                "block_id": f"fork-{n:08d}", "block_ts": None, "cursor": f"f{n}",
                "final_block_height": n - 5, "last_valid_block": None,
                "payload": _payload(n),
            }
            for n in range(13, 25)
        ]
        land_blocks(spark, msgs, str(tmp_path / "landing"))
        schema = dict(TRANSFERS_SCHEMA, evt_tx_hash="String", evt_index="UInt32")
        sink = TypedPerTableSink(
            endpoint, {"transfers": schema, "approvals": APPROVALS_SCHEMA}
        )
        q = run_pipeline(spark, str(tmp_path / "landing"), str(tmp_path / "ckpt"), sink)
        assert q.awaitTermination(120)
        assert q.exception() is None

        final = {(n, f"blk-{n:08d}") for n in range(13)} | {
            (n, f"fork-{n:08d}") for n in range(13, 20)
        }
        for t in ("transfers", "approvals"):
            got = [(r["block_num"], r["block_id"]) for r in rec.rows(t)]
            assert sorted(got) == sorted(final), t

        for q_, _ in rec.requests:
            assert _cols(q_) == sorted(_cols(q_)), q_

        assert rec.tables_in_order()[-1] == "cursors"
        last = rec.rows("cursors")[-1]
        assert (last["block_num"], last["block_id"], last["cursor"]) == (
            19, "fork-00000019", "f19")

        types = {
            _table(q_): _arrow(body).schema for q_, body in rec.requests
        }
        assert types["approvals"].field("amount").type == pa.decimal128(20, 0)
        assert types["transfers"].field("contract_address").type == pa.binary()
        assert types["transfers"].field("evt_block_time").type == pa.timestamp("us", tz="UTC")


class TestEmptyTable:
    def test_table_without_rows_posts_nothing(self, spark, mock_clickhouse):
        """A catalog table with no rows in the batch gets no INSERT; the
        cursor still goes last."""
        endpoint, rec = mock_clickhouse
        batch = _change_blocks(spark, [(n, [("approvals", {"v": str(n)})]) for n in (1, 2)])
        TypedPerTableSink(endpoint, CATALOG).write_batch(batch.repartition(2), epoch_id=1)
        order = rec.tables_in_order()
        assert "transfers" not in order
        assert order[-1] == "cursors" and set(order[:-1]) == {"approvals"}
        assert sorted(r["v"] for r in rec.rows("approvals")) == ["1", "2"]
