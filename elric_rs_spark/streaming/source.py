"""Block-stream source (SURVEY.md S1/S2/S3).

The reference consumes a gRPC server-stream with an infinite
reconnect/backoff loop that resumes from the latest cursor
(ref substreams_stream.rs:53-149: backoff 10ms -> 45s cap, fatal on
Unauthenticated) and demuxes responses into New/Undo/skip
(ref substreams_stream.rs:158-216).

Spark-side design: a reader thread drains the upstream iterator into a
parquet landing directory; Structured Streaming tails that directory with
`spark.readStream.schema(...).parquet(...)`. This decouples upstream
liveness from micro-batch cadence (SURVEY.md §7 risk 5) and gives replay
for free. The reader thread applies finality itself, as the reference's
loader does, with one in-memory 12-block buffer per stream
(`finality.replay_chunk`): only final blocks land, so the landing dir is
append-only final data and the streaming query is stateless. On restart
the buffers start empty and the reader resumes upstream from
`resume_cursor`, the cursor of the last landed block, so upstream
re-sends what was buffered (ref loader.rs:195-210). Each chunk lands as
one pyarrow-written parquet file renamed into place from a hidden temp
name, so landing starts no Spark job and no Python worker; the directory
is a local path on the driver. The gRPC dependency is optional (grpcio
need not be installed), so the transport is injected as any Python
iterator; `fixture_replay` provides a deterministic stand-in built from
events.parquet.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import os
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from elric_rs_spark.streaming.finality import replay_chunk

BLOCK_STREAM_SCHEMA = (
    "stream_id string, block_num long, block_id string, block_ts timestamp, "
    "cursor string, final_block_height long, payload string, seq long"
)


@dataclass
class _Reader:
    """Reader-side state of one landing dir: the next arrival number
    (`seq`), each stream's finality buffer, and the cursor of each
    stream's last landed block."""

    seq: int
    cursors: dict[str | None, str | None]
    buffers: dict[str | None, list[dict]] = field(default_factory=dict)


# One _Reader per landing dir, keyed by realpath: '/x' and '/x/' (or a
# symlinked spelling) must share one, since two would issue colliding
# seqs. The reader thread is the single consumer (same topology as the
# reference's one gRPC stream), so `seq` is a total arrival order; block_num
# is not one, since replacement blocks after a reorg reuse numbers.
_READERS: dict[str, _Reader] = {}


def _reader(spark: SparkSession, landing_dir: str) -> _Reader:
    """The dir's reader state; on first use in a process (or after the
    dir was deleted) one Spark read recovers the max `seq` and each
    stream's last landed cursor, with empty buffers, as the reference
    restarts (ref loader.rs:195-210)."""
    key = os.path.realpath(landing_dir)
    if key not in _READERS or not os.path.isdir(key):
        seq, cursors = 0, {}
        # Only a missing dir means "fresh stream". Any other failure
        # (corrupt footer, permissions, transient FS error) must
        # propagate: restarting seq at 0 over a dir holding higher seqs
        # would break arrival order.
        if os.path.isdir(key):
            rows = (
                spark.read.schema(BLOCK_STREAM_SCHEMA)
                .parquet(landing_dir)
                .groupBy("stream_id")
                .agg(F.max("seq").alias("seq"), F.max_by("cursor", "seq").alias("cursor"))
                .collect()
            )
            seq = max((r.seq + 1 for r in rows if r.seq is not None), default=0)
            cursors = {r.stream_id: r.cursor for r in rows}
        _READERS[key] = _Reader(seq, cursors)
    return _READERS[key]


def resume_cursor(spark: SparkSession, landing_dir: str, stream_id: str) -> str | None:
    """Cursor of the last block of `stream_id` landed in `landing_dir`,
    or None. A restarted reader passes it to
    `ReconnectingReader(latest_cursor=...)`; upstream then re-sends the
    blocks that were still buffered when the last process stopped
    (ref main.rs:299-310)."""
    return _reader(spark, landing_dir).cursors.get(stream_id)


# ref substreams_stream.rs:62 — ExponentialBackoff from 10ms, capped 45s
BACKOFF_INITIAL_S = 0.010
BACKOFF_CAP_S = 45.0


class FatalStreamError(RuntimeError):
    """Equivalent of the reference's Unauthenticated fatal branch
    (ref substreams_stream.rs:116-118): do not retry."""


@dataclass
class ReconnectingReader:
    """Infinite retry loop around a stream-factory, resuming from the last
    seen cursor (ref substreams_stream.rs:53-149).

    `connect(cursor)` returns an iterator of message dicts with at least
    msg_type in {"new", "undo", "progress"} and, for "new", a cursor field.
    Backoff doubles per failed attempt and resets on progress.
    """

    connect: Callable[[str | None], Iterable[dict]]
    latest_cursor: str | None = None
    max_attempts: int | None = None  # None = retry forever (reference parity)
    sleep: Callable[[float], None] = time.sleep

    def __iter__(self) -> Iterator[dict]:
        backoff = BACKOFF_INITIAL_S
        attempts = 0
        while True:
            try:
                got_progress = False
                for msg in self.connect(self.latest_cursor):
                    got_progress = True
                    if msg.get("msg_type") == "new":
                        self.latest_cursor = msg.get("cursor")
                    elif msg.get("msg_type") == "undo" and msg.get("cursor"):
                        # resume BEHIND the reorg: the undo carries
                        # last_valid_cursor and the reference adopts it
                        # (ref substreams_stream.rs:104-111) — resuming
                        # from the pre-undo cursor would replay the
                        # orphaned fork
                        self.latest_cursor = msg.get("cursor")
                    yield msg
                return  # upstream ended cleanly
            except FatalStreamError:
                raise
            except Exception:
                attempts += 1
                if self.max_attempts is not None and attempts >= self.max_attempts:
                    raise
                if got_progress:
                    backoff = BACKOFF_INITIAL_S  # reset on progress (rs:96,105)
                self.sleep(backoff)
                backoff = min(backoff * 2, BACKOFF_CAP_S)


def demux(messages: Iterable[dict]) -> Iterator[dict]:
    """S3: keep data-bearing messages (new/undo), skip session/progress
    (ref substreams_stream.rs:166-215)."""
    return (m for m in messages if m.get("msg_type") in ("new", "undo"))


def fixture_replay(
    spark: SparkSession,
    sf_dir: str,
    reorg_depth: int = 12,
    undo_at: int | None = None,
) -> list[dict]:
    """Deterministic block-stream built from events.parquet: event_id is
    the block number, the watermark trails by `reorg_depth`. Optionally
    injects an undo signal dropping back 3 blocks after block `undo_at`
    (test hook for T8)."""
    from elric_rs_spark.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "props")
        .orderBy("event_id")
        .collect()
    )
    out: list[dict] = []
    for r in rows:
        num = int(r.event_id)
        out.append({
            "stream_id": "fixture",
            "msg_type": "new",
            "block_num": num,
            "block_id": f"blk-{num:08d}",
            "block_ts": r.ts,
            "cursor": str(num),
            "final_block_height": max(num - reorg_depth, 0),
            "last_valid_block": None,
            "payload": r.props,
        })
        if num == undo_at:
            out.append({
                "stream_id": "fixture",
                "msg_type": "undo",
                "block_num": num,
                "block_id": None,
                "block_ts": None,
                "cursor": None,
                "final_block_height": None,
                "last_valid_block": max(num - 3, 0),
                "payload": None,
            })
    return out


@functools.cache
def _arrow_schema() -> pa.Schema:
    # parsing the DDL needs a live SparkContext, hence built on first use
    return to_arrow_schema(StructType.fromDDL(BLOCK_STREAM_SCHEMA))


def _utc(ts: datetime.datetime | None) -> datetime.datetime | None:
    # createDataFrame's rule: a naive datetime is local time, an aware
    # one is its instant
    return None if ts is None else ts.astimezone(datetime.timezone.utc)


def _chunk_table(chunk: list[dict], seqs: list[int]) -> pa.Table:
    schema = _arrow_schema()
    cols = []
    for f in schema:
        if f.name == "seq":
            vals = seqs
        elif pa.types.is_timestamp(f.type):
            vals = [_utc(m.get(f.name)) for m in chunk]
        else:
            vals = [m.get(f.name) for m in chunk]
        cols.append(pa.array(vals, type=f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _land_file(table: pa.Table, landing_dir: str, name: str, after_ms: int) -> int:
    """Write `table` to a hidden temp file, give it an mtime later than
    `after_ms`, and rename it to `name`. Returns the mtime in ms.

    The file-stream source orders new files by mtime in ms and breaks
    ties in listing order, and a chunk lands in about a millisecond: two
    chunks sharing a millisecond could be drained in the wrong order
    across micro-batches, so each file is stamped after the last one."""
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    try:
        pq.write_table(table, tmp)
        ms = max(os.stat(tmp).st_mtime_ns // 1_000_000, after_ms + 1)
        os.utime(tmp, ns=(ms * 1_000_000, ms * 1_000_000))
        os.replace(tmp, os.path.join(landing_dir, name))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return ms


def land_blocks(
    spark: SparkSession, messages: Iterable[dict], landing_dir: str, batch_size: int = 500
) -> int:
    """Reader-thread half: pass each chunk of `batch_size` demuxed
    messages through the dir's finality buffers (`finality.replay_chunk`,
    one buffer per stream id) and land the blocks that became final as
    one parquet file, in emit order, each stamped with the next `seq`.
    Returns rows landed. Undo signals and undone blocks never land; a
    chunk that emits nothing writes no file; blocks still buffered when
    `messages` ends stay buffered for the next call on the same dir.

    Each file is built as one Arrow table (missing keys are null, a
    `block_ts` is read as createDataFrame reads it: naive = local time,
    aware = its instant), written by pyarrow to a hidden
    `.part-<first seq>.parquet.tmp` and renamed to `part-<first
    seq>.parquet`. Spark skips names starting with `.`, so a file is
    visible only once complete; a type error raises before any file is
    written. No Spark job runs (except `_reader`'s one read when a
    process first lands into an existing dir).

    A failure (upstream, a bad message, a write) drops the dir's reader
    state, as a crash would: the caller resumes upstream from
    `resume_cursor`, which re-sends the blocks that were buffered."""
    it = iter(messages)
    reader = _reader(spark, landing_dir)
    os.makedirs(landing_dir, exist_ok=True)
    with os.scandir(landing_dir) as entries:
        last_ms = max(
            (e.stat().st_mtime_ns // 1_000_000 for e in entries if e.name.endswith(".parquet")),
            default=0,
        )
    n = 0
    try:
        while chunk := list(itertools.islice(it, batch_size)):
            emitted, buffers = replay_chunk(reader.buffers, chunk)
            if emitted:
                seqs = list(range(reader.seq, reader.seq + len(emitted)))
                table = _chunk_table(emitted, seqs)
                last_ms = _land_file(table, landing_dir, f"part-{seqs[0]:020d}.parquet", last_ms)
                reader.seq += len(emitted)
                reader.cursors.update((m.get("stream_id"), m.get("cursor")) for m in emitted)
                n += len(emitted)
            reader.buffers = buffers
    except BaseException:
        _READERS.pop(os.path.realpath(landing_dir), None)
        raise
    return n


def read_block_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming half: tail the landing dir as a file-stream source."""
    return (
        spark.readStream.schema(BLOCK_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(landing_dir)
    )
