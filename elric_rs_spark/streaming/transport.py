"""gRPC transport for the Substreams block source (SURVEY.md S1/S2).

The reference opens a TLS channel with an auth interceptor and calls the
server-streaming `sf.substreams.rpc.v2.Stream/Blocks` RPC
(ref substreams.rs:26-78), wrapped in the reconnect/backoff/cursor state
machine (ref substreams_stream.rs:53-149). Here the same topology is:

    channel_factory -> make_substreams_connect(...) -> ReconnectingReader
      -> demux -> land_blocks -> Structured Streaming

grpcio is OPTIONAL (absent in this container): `open_grpc_channel` is the
only function that imports it, behind a guard, and everything else takes
an injected channel object — the contract test drives the full
reconnect/backoff/cursor machine against an in-process fake channel
speaking real wire bytes. No generated stubs are needed either way: the
Request is built by functions/protowire.encode_request and responses are
decoded by protowire.decode_response, so grpcio's generic
`unary_stream(method, request_serializer, response_deserializer)` API is
sufficient (install: `pip install grpcio`).
"""

from __future__ import annotations

import base64
import datetime
from collections.abc import Callable, Iterable

from elric_rs_spark.functions.protowire import encode_request
from elric_rs_spark.streaming.admin import read_package
from elric_rs_spark.streaming.source import FatalStreamError

BLOCKS_METHOD = "/sf.substreams.rpc.v2.Stream/Blocks"

# ref substreams.rs:39-40 — 30s keepalive, 10s connect timeout
GRPC_CHANNEL_OPTIONS = [
    ("grpc.keepalive_time_ms", 30_000),
    ("grpc.client_channel.connect_timeout_ms", 10_000),
]


def open_grpc_channel(endpoint: str, plaintext: bool = False):
    """Build a grpcio channel for the Substreams endpoint (TLS by default,
    mirroring ref substreams.rs:30-41). Guarded import: grpcio is not
    shipped in this container."""
    try:
        import grpc
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "grpcio is not installed; `pip install grpcio` to use the live "
            "Substreams transport (the fixture-replay source needs nothing)"
        ) from e
    if plaintext:
        return grpc.insecure_channel(endpoint, options=GRPC_CHANNEL_OPTIONS)
    return grpc.secure_channel(
        endpoint, grpc.ssl_channel_credentials(), options=GRPC_CHANNEL_OPTIONS
    )


def response_to_message(resp: dict, stream_id: str) -> dict | None:
    """Decoded Response dict -> the message dict `land_blocks` takes: a
    new block's fields are the landing-dir row shape (BLOCK_STREAM_SCHEMA),
    plus msg_type and, for an undo, last_valid_block, which the reader's
    finality buffer consumes. Session/progress/skip responses return None
    (S3 demux, ref substreams_stream.rs:166-215). Payload bytes travel
    base64 in the string payload column; decode_changes_protobuf reverses
    it."""
    kind = resp.get("msg_type")
    if kind == "new":
        clock = resp.get("clock") or {"id": "", "number": 0, "timestamp": None}
        ts = clock.get("timestamp")
        # aware: the landing writer reads a naive datetime as local time
        block_ts = (
            datetime.datetime.fromtimestamp(ts, tz=datetime.timezone.utc)
            if ts is not None
            else None
        )
        return {
            "stream_id": stream_id,
            "msg_type": "new",
            "block_num": clock["number"],
            "block_id": clock["id"],
            "block_ts": block_ts,  # event time from the wire Clock (UTC)
            "cursor": resp.get("cursor", ""),
            "final_block_height": resp.get("final_block_height", 0),
            "last_valid_block": None,
            "payload": base64.b64encode(resp.get("payload", b"")).decode(),
        }
    if kind == "undo":
        return {
            "stream_id": stream_id,
            "msg_type": "undo",
            "block_num": resp.get("last_valid_block", 0),
            "block_id": resp.get("last_valid_block_id", ""),
            "block_ts": None,
            "cursor": resp.get("last_valid_cursor", ""),
            "final_block_height": None,
            "last_valid_block": resp.get("last_valid_block", 0),
            "payload": None,
        }
    return None


def _is_unauthenticated(err: Exception) -> bool:
    """Duck-typed grpc.RpcError check (works for the fake channel too):
    the reference treats Unauthenticated as fatal, no retry
    (ref substreams_stream.rs:116-118)."""
    code = getattr(err, "code", None)
    if callable(code):
        try:
            return getattr(code(), "name", "") == "UNAUTHENTICATED"
        except Exception:
            return False
    return False


def make_substreams_connect(
    channel_factory: Callable[[], object],
    spkg_path: str | None = None,
    output_module: str = "",
    stream_id: str = "default",
    token: str | None = None,
    start_block_num: int = 0,
    stop_block_num: int = 0,
    modules_raw: bytes | None = None,
) -> Callable[[str | None], Iterable[dict]]:
    """Build the `connect(cursor)` callable ReconnectingReader drives.

    Each call opens the server stream from `cursor` (the resume token the
    reader tracks across reconnects, ref substreams_stream.rs:72-74) and
    yields landing-schema message dicts. The auth token rides as raw
    `authorization` metadata exactly as the reference's interceptor sets
    it (ref substreams.rs:55-71)."""
    if modules_raw is None:
        modules_raw = (
            read_package(spkg_path)["modules_raw"] if spkg_path else b""
        )
    metadata = [("authorization", token)] if token else None

    def connect(cursor: str | None) -> Iterable[dict]:
        channel = None
        try:
            channel = channel_factory()
            call = channel.unary_stream(
                BLOCKS_METHOD,
                request_serializer=lambda b: b,  # already wire bytes
                response_deserializer=_deserialize_response,
            )
            request = encode_request(
                start_block_num=start_block_num,
                start_cursor=cursor or "",
                stop_block_num=stop_block_num,
                output_module=output_module,
                modules_raw=modules_raw,
            )
            for resp in call(request, metadata=metadata):
                msg = response_to_message(resp, stream_id)
                if msg is not None:
                    yield msg
        except Exception as e:
            if _is_unauthenticated(e):
                raise FatalStreamError("Unauthenticated") from e
            raise
        finally:
            # each (re)connect opens a fresh channel; an infinite
            # reconnect loop must not leak sockets/threads across retries
            # — including when unary_stream/encode_request themselves fail
            if channel is not None:
                close = getattr(channel, "close", None)
                if callable(close):
                    close()

    return connect


def _deserialize_response(data: bytes) -> dict:
    from elric_rs_spark.functions.protowire import decode_response

    return decode_response(data)
