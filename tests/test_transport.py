"""Contract tests for the gRPC transport adapter (S1/S2) against an
in-process fake channel speaking real wire bytes — grpcio itself is absent
in this container, so the fake implements the same generic
`unary_stream(method, request_serializer, response_deserializer)` surface
the adapter uses, and every request/response crosses the boundary as
actual protobuf wire bytes (encoders from test_protowire).

Covered reference semantics:
- reconnect resumes from the latest cursor (ref substreams_stream.rs:72-74)
- exponential backoff, reset after progress (ref substreams_stream.rs:62,96)
- Unauthenticated is fatal, never retried (ref substreams_stream.rs:116-118)
- auth token rides as raw `authorization` metadata (ref substreams.rs:55-71)
- request carries production_mode=true, final_blocks_only=false
  (ref substreams_stream.rs:76,83)
"""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pytest

from elric_rs_spark.functions.protowire import WIRE_LEN, WIRE_VARINT, iter_fields
from elric_rs_spark.streaming.source import FatalStreamError, ReconnectingReader, demux
from elric_rs_spark.streaming.transport import (
    BLOCKS_METHOD,
    make_substreams_connect,
    response_to_message,
)
from tests.test_protowire import (
    enc_block_scoped_data,
    enc_database_changes,
    enc_str,
    enc_sub,
    enc_table_change,
    enc_varint_field,
)


class FakeRpcError(Exception):
    def __init__(self, code_name: str):
        super().__init__(code_name)
        self._code_name = code_name

    def code(self):
        return SimpleNamespace(name=self._code_name)


class FakeChannel:
    """One scripted connection session: yields wire-encoded Response
    messages, then optionally raises. Records the decoded request."""

    def __init__(self, server: "FakeServer"):
        self.server = server

    def unary_stream(self, method, request_serializer, response_deserializer):
        assert method == BLOCKS_METHOD

        def call(request, metadata=None):
            return self.server.handle(
                request_serializer(request), metadata, response_deserializer
            )

        return call


class FakeServer:
    def __init__(self, sessions):
        # sessions: list of (list[wire_bytes], exception | None)
        self.sessions = list(sessions)
        self.requests: list[bytes] = []
        self.metadata: list = []

    def channel_factory(self):
        return FakeChannel(self)

    def handle(self, request_bytes, metadata, deserializer):
        self.requests.append(request_bytes)
        self.metadata.append(metadata)
        responses, err = self.sessions.pop(0)

        def gen():
            for wire in responses:
                yield deserializer(wire)
            if err is not None:
                raise err

        return gen()


def parse_request(buf: bytes) -> dict:
    out = {"start_block_num": 0, "start_cursor": "", "final_blocks_only": 0,
           "production_mode": 0, "output_module": "", "modules_raw": b""}
    for fno, wt, val in iter_fields(buf):
        if fno == 1 and wt == WIRE_VARINT:
            out["start_block_num"] = val
        elif fno == 2 and wt == WIRE_LEN:
            out["start_cursor"] = val.decode()
        elif fno == 4 and wt == WIRE_VARINT:
            out["final_blocks_only"] = val
        elif fno == 5 and wt == WIRE_VARINT:
            out["production_mode"] = val
        elif fno == 6 and wt == WIRE_LEN:
            out["output_module"] = val.decode()
        elif fno == 7 and wt == WIRE_LEN:
            out["modules_raw"] = val
    return out


def block_response(n: int) -> bytes:
    changes = enc_database_changes(enc_table_change("t", {"v": str(n)}))
    return enc_sub(3, enc_block_scoped_data(n, f"c{n}", max(n - 2, 0), changes))


def undo_response(last_valid: int) -> bytes:
    block_ref = enc_str(1, f"blk-{last_valid}") + enc_varint_field(2, last_valid)
    return enc_sub(4, enc_sub(1, block_ref) + enc_str(2, f"c{last_valid}"))


class TestTransportContract:
    def test_reconnect_resumes_from_cursor(self):
        """Mid-stream failure: the reader reconnects and the SECOND request
        must carry the last good cursor as start_cursor."""
        server = FakeServer(
            [
                ([block_response(1), block_response(2)], FakeRpcError("UNAVAILABLE")),
                ([block_response(3)], None),
            ]
        )
        connect = make_substreams_connect(
            server.channel_factory, output_module="db_out", modules_raw=b"\x0a\x00"
        )
        sleeps: list[float] = []
        reader = ReconnectingReader(connect=connect, sleep=sleeps.append)
        msgs = list(demux(reader))
        assert [m["block_num"] for m in msgs] == [1, 2, 3]
        assert len(server.requests) == 2
        assert parse_request(server.requests[0])["start_cursor"] == ""
        assert parse_request(server.requests[1])["start_cursor"] == "c2"
        # backoff reset after progress -> one initial-backoff sleep
        assert sleeps == [0.010]

    def test_reconnect_after_undo_resumes_from_last_valid_cursor(self):
        """An undo signal moves the resume point BEHIND the reorg: the
        reference adopts last_valid_cursor (ref substreams_stream.rs:
        104-111), so a disconnect right after an undo must reconnect from
        the undo's cursor, not the orphaned fork's last block cursor."""
        server = FakeServer(
            [
                (
                    [block_response(1), block_response(2), undo_response(1)],
                    FakeRpcError("UNAVAILABLE"),
                ),
                ([block_response(2)], None),
            ]
        )
        connect = make_substreams_connect(server.channel_factory)
        reader = ReconnectingReader(connect=connect, sleep=lambda s: None)
        list(demux(reader))
        assert parse_request(server.requests[1])["start_cursor"] == "c1"

    def test_channel_closed_per_connect(self):
        """Each (re)connect's channel must be closed when its stream ends
        or errors — an infinite retry loop must not leak channels."""
        closed = []

        class ClosableChannel(FakeChannel):
            def close(self):
                closed.append(True)

        server = FakeServer(
            [([block_response(1)], FakeRpcError("UNAVAILABLE")), ([], None)]
        )
        connect = make_substreams_connect(lambda: ClosableChannel(server))
        reader = ReconnectingReader(connect=connect, sleep=lambda s: None)
        list(reader)
        assert len(closed) == 2  # one close per connection attempt

    def test_unauthenticated_is_fatal(self):
        server = FakeServer([([], FakeRpcError("UNAUTHENTICATED"))])
        connect = make_substreams_connect(server.channel_factory)
        reader = ReconnectingReader(connect=connect, sleep=lambda s: None)
        with pytest.raises(FatalStreamError):
            list(reader)
        assert len(server.requests) == 1  # no retry

    def test_request_shape_and_auth_metadata(self):
        server = FakeServer([([], None)])
        connect = make_substreams_connect(
            server.channel_factory,
            output_module="db_out",
            token="tok-123",
            start_block_num=100,
            modules_raw=b"\x0a\x02\x0a\x00",
        )
        list(connect("cur-9"))
        req = parse_request(server.requests[0])
        assert req["start_block_num"] == 100
        assert req["start_cursor"] == "cur-9"
        assert req["output_module"] == "db_out"
        assert req["production_mode"] == 1  # ref substreams_stream.rs:83
        assert req["final_blocks_only"] == 0  # ref substreams_stream.rs:76
        assert req["modules_raw"] == b"\x0a\x02\x0a\x00"
        assert ("authorization", "tok-123") in server.metadata[0]

    def test_undo_and_skip_mapping(self):
        """Session/progress responses are dropped (S3); undo maps to the
        landing-schema undo row."""
        server = FakeServer(
            [([enc_sub(1, b""), block_response(5), enc_sub(2, b""), undo_response(3)], None)]
        )
        connect = make_substreams_connect(server.channel_factory)
        msgs = list(connect(None))
        assert [m["msg_type"] for m in msgs] == ["new", "undo"]
        assert msgs[1]["last_valid_block"] == 3
        assert msgs[1]["cursor"] == "c3"

    def test_payload_base64_roundtrip(self):
        """The payload column carries the DatabaseChanges bytes base64 —
        exactly what decode_changes_protobuf consumes."""
        import base64

        from elric_rs_spark.functions.protowire import table_change_rows

        server = FakeServer([([block_response(7)], None)])
        connect = make_substreams_connect(server.channel_factory)
        (msg,) = [m for m in connect(None) if m["msg_type"] == "new"]
        rows = table_change_rows(base64.b64decode(msg["payload"]))
        assert rows == [{"table": "t", "fields": {"v": "7"}, "pk": {}}]
        assert msg["final_block_height"] == 5
        assert msg["block_id"] == "blk-7"


class TestResponseToMessage:
    def test_skip_kinds(self):
        assert response_to_message({"msg_type": "session"}, "s") is None
        assert response_to_message({"msg_type": "progress"}, "s") is None
        assert response_to_message({"msg_type": "skip"}, "s") is None

    def test_block_ts_from_clock(self):
        msg = response_to_message(
            {
                "msg_type": "new",
                "clock": {"id": "b", "number": 1, "timestamp": 1722988800.0},
                "cursor": "c",
                "final_block_height": 0,
                "payload": b"",
            },
            "s",
        )
        assert msg["block_ts"].year == 2024 and msg["block_ts"].month == 8


@pytest.fixture()
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


class TestBlockTsLanding:
    def test_clock_time_lands_as_its_instant_off_utc(self, spark, tmp_path, new_york_tz):
        """The wire Clock is an instant: a host UTC offset must not
        shift it on the way through land_blocks."""
        from pyspark.sql import functions as F

        from elric_rs_spark.streaming.source import BLOCK_STREAM_SCHEMA, land_blocks

        clock_s = 1722988800  # 2024-08-07T00:00:00Z
        msg = response_to_message(
            {
                "msg_type": "new",
                "clock": {"id": "b", "number": 1, "timestamp": float(clock_s)},
                "cursor": "c",
                "final_block_height": 1,  # final: the block lands
                "payload": b"",
            },
            "s",
        )
        landing = str(tmp_path / "landing")
        land_blocks(spark, [msg], landing)
        got = (
            spark.read.schema(BLOCK_STREAM_SCHEMA).parquet(landing)
            .select(F.unix_timestamp("block_ts")).first()[0]
        )
        assert got == clock_s


class TestFullTopologyOverWire:
    def test_grpc_to_typed_tables(self, spark, tmp_path):
        """The COMPLETE reference lifecycle (SURVEY §3) on real wire bytes
        end to end: fake gRPC server (with one mid-stream disconnect) ->
        ReconnectingReader (cursor resume) -> demux -> land_blocks
        (finality) -> Structured Streaming -> protobuf decode ->
        PK merge -> typed cast -> per-table sink -> cursor recovery. The
        Spark-native equivalent of running `elric-rs run` against a live
        endpoint."""
        from elric_rs_spark.streaming.pipeline import (
            TypedPerTableSink,
            decode_changes_protobuf,
            run_pipeline,
        )
        from elric_rs_spark.streaming.sink import load_persisted_cursor
        from elric_rs_spark.streaming.source import land_blocks

        server = FakeServer(
            [
                ([block_response(n) for n in range(6)], FakeRpcError("UNAVAILABLE")),
                ([block_response(n) for n in range(6, 10)], None),
            ]
        )
        connect = make_substreams_connect(
            server.channel_factory, output_module="db_out", stream_id="s1"
        )
        reader = ReconnectingReader(connect=connect, sleep=lambda s: None)
        landing = str(tmp_path / "landing")
        n = land_blocks(spark, demux(reader), landing)
        # block_response(n) watermarks at n-2 -> blocks 0..7 land, 8..9 stay
        # buffered on the reader
        assert n == 8
        # reconnect resumed from block 5's cursor
        assert parse_request(server.requests[1])["start_cursor"] == "c5"

        sink = TypedPerTableSink(
            str(tmp_path / "out"),
            {"t": {"v": "UInt64"}},
            decode=decode_changes_protobuf,
        )
        q = run_pipeline(spark, landing, str(tmp_path / "ckpt"), sink)
        q.awaitTermination(120)

        out = spark.read.parquet(f"{tmp_path}/out/data/t")
        rows = {r.block_num: r.v for r in out.collect()}
        # block_response(n) watermarks at n-2 -> blocks 0..7 finalized
        assert sorted(rows) == list(range(8))
        assert rows[7] == 7  # typed UInt64 from wire string
        assert load_persisted_cursor(spark, f"{tmp_path}/out", "s1") == "c7"
