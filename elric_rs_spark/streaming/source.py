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
for free. The reader thread writes each chunk itself with pyarrow, as
one parquet file renamed into place from a hidden temp name, so landing
starts no Spark job and no Python worker; the directory is a local path
on the driver. The gRPC dependency is optional (grpcio need not be
installed), so the transport is injected as any Python iterator;
`fixture_replay` provides a deterministic stand-in built from
events.parquet.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import os
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

BLOCK_STREAM_SCHEMA = (
    "stream_id string, msg_type string, block_num long, block_id string, "
    "block_ts timestamp, cursor string, final_block_height long, "
    "last_valid_block long, payload string, seq long"
)

# Monotonic arrival counters stamped by land_blocks, one per landing dir.
# block_num alone cannot order a micro-batch: an undo shares the dropped
# block's number and post-reorg blocks REUSE numbers, so sorting by
# block_num can apply an undo before the same-numbered new block (or
# after its replacement). The reader thread is the single consumer (same
# topology as the reference's one gRPC stream), so a per-dir counter is a
# total arrival order; on process restart it resumes from the max seq
# already in the landing dir so replayed and new rows never overlap.
_DIR_SEQ: dict[str, Iterator[int]] = {}


def _seq_counter(spark: SparkSession, landing_dir: str) -> Iterator[int]:
    # realpath: '/x' and '/x/' (or a symlinked spelling) must share one
    # counter — two counters over one dir would issue colliding seqs
    key = os.path.realpath(landing_dir)
    if key not in _DIR_SEQ:
        start = 0
        # Only a missing dir means "fresh stream". Any other failure
        # (corrupt footer, permissions, transient FS error) must
        # propagate: silently restarting at 0 over a dir holding higher
        # seqs would recreate the reorg misordering seq exists to fix.
        if os.path.isdir(key):
            row = (
                spark.read.schema(BLOCK_STREAM_SCHEMA)
                .parquet(landing_dir)
                .agg({"seq": "max"})
                .collect()[0]
            )
            if row[0] is not None:
                start = int(row[0]) + 1
        _DIR_SEQ[key] = itertools.count(start)
    return _DIR_SEQ[key]

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
    """Reader-thread half: land each chunk of `batch_size` messages as
    one parquet file in the landing dir the streaming query tails.
    Returns rows written.

    Each chunk is built as one Arrow table (missing keys are null, a
    `block_ts` is read as createDataFrame reads it: naive = local time,
    aware = its instant), written by pyarrow to a hidden
    `.part-<first seq>.parquet.tmp` and renamed to `part-<first
    seq>.parquet`. Spark skips names starting with `.`, so a file is
    visible only once complete; a type error raises before any file is
    written. No Spark job runs (except `_seq_counter`'s one read of the
    max `seq` when a process first lands into an existing dir)."""
    n = 0
    it = iter(messages)
    seq = _seq_counter(spark, landing_dir)
    os.makedirs(landing_dir, exist_ok=True)
    with os.scandir(landing_dir) as entries:
        last_ms = max(
            (e.stat().st_mtime_ns // 1_000_000 for e in entries if e.name.endswith(".parquet")),
            default=0,
        )
    while True:
        chunk = list(itertools.islice(it, batch_size))
        if not chunk:
            return n
        seqs = [next(seq) for _ in chunk]
        table = _chunk_table(chunk, seqs)
        last_ms = _land_file(table, landing_dir, f"part-{seqs[0]:020d}.parquet", last_ms)
        n += len(chunk)


def read_block_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming half: tail the landing dir as a file-stream source."""
    return (
        spark.readStream.schema(BLOCK_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(landing_dir)
    )
