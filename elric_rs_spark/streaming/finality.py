"""Finality buffering + undo/reorg handling (SURVEY.md T7/T8).

Reference semantics (ref loader.rs:24, 82-109, 177-193):
- Keep an ordered buffer of not-yet-final blocks, capped at 12.
- On each new block: append; emit (flush to sink) the prefix of buffered
  blocks whose block_num <= the incoming final_block_height watermark.
- If the buffer still exceeds the cap, force-emit oldest blocks even if
  not final — bounded memory beats strict finality (ref loader.rs:92-101).
- On an undo signal (last_valid_block): drop buffered blocks with
  block_num > last_valid_block. Already-emitted blocks are unaffected —
  undo only ever touches pre-sink state (ref loader.rs:177-193).

`FinalityBuffer` is the pure-Python state machine: the reference model,
unit-tested against the reference's own three loader tests.
`apply_finality_stateful` is the form the pipeline runs, via
`applyInPandasWithState` keyed by stream id with state = the buffered
blocks. Each stream's buffer is tiny (<=12 rows) so state stays small no
matter the data volume. Its one kernel, `_replay`, applies the buffer's
push/undo rules to row positions, and is property-tested against
`FinalityBuffer` with undos mixed in.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

REORG_BUFFER_LEN = 12  # ref loader.rs:24 (BUFFER_LEN)


@dataclass
class Block:
    block_num: int
    block_id: str
    cursor: str
    final_block_height: int
    payload: object = None


@dataclass
class FinalityBuffer:
    """Single-stream finality state machine (ref loader.rs:82-109)."""

    buffer_len: int = REORG_BUFFER_LEN
    buffer: list[Block] = field(default_factory=list)

    def push(self, block: Block) -> list[Block]:
        """Append a block; return the blocks that became final (flushable).

        Mirrors get_final_blocks_from_buffer: (1) emit the prefix with
        block_num <= the incoming watermark; (2) overflow-emit the oldest
        blocks past the cap even if not final.
        """
        self.buffer.append(block)
        final: list[Block] = []
        # (1) finality prefix
        while self.buffer and self.buffer[0].block_num <= block.final_block_height:
            final.append(self.buffer.pop(0))
        # (2) bounded-memory overflow flush (ref loader.rs:92-101)
        while len(self.buffer) > self.buffer_len:
            final.append(self.buffer.pop(0))
        return final

    def undo(self, last_valid_block: int) -> int:
        """Drop buffered blocks above last_valid_block (ref loader.rs:177-193).
        Returns how many were dropped. Emitted blocks are never touched."""
        before = len(self.buffer)
        self.buffer = [b for b in self.buffer if b.block_num <= last_valid_block]
        return before - len(self.buffer)


# ---------------------------------------------------------------------------
# Distributed form: applyInPandasWithState over a keyed block stream.
# ---------------------------------------------------------------------------

FINALITY_OUTPUT_SCHEMA = (
    "stream_id string, block_num long, block_id string, cursor string, "
    "final_block_height long, payload string"
)
FINALITY_STATE_SCHEMA = (
    "block_num array<long>, block_id array<string>, cursor array<string>, "
    "final_height array<long>, payload array<string>"
)


_OUTPUT_COLS = [
    "stream_id",
    "block_num",
    "block_id",
    "cursor",
    "final_block_height",
    "payload",
]

_BUF_COLS = ["block_num", "block_id", "cursor", "final_block_height", "payload"]
_INT_COLS = {"block_num": "int64", "final_block_height": "int64"}


def _sort_arrival(pdf):
    """Arrival order, not block order: block numbers repeat in the reorg
    case (an undo shares the dropped block's number; replacement blocks
    reuse numbers), and pandas' default quicksort is unstable. `seq` is
    the source's monotonic arrival counter. Rows with null seq (data
    landed by a pre-seq writer) sort FIRST in their original frame order
    (they were landed earlier; stable sort preserves file order within
    them). Frames with NO usable seq at all (column absent, or present
    but all-null) fall back to a stable block_num sort — a sort is still
    mandatory there because Spark gives no row-order guarantee after the
    groupBy shuffle."""
    if "seq" in pdf.columns and pdf["seq"].notna().any():
        return pdf.sort_values("seq", kind="stable", na_position="first")
    return pdf.sort_values("block_num", kind="stable")


def _replay(nums: list, undo: list, marks: list, m: int, cap: int):
    """FinalityBuffer.push/undo replayed on row positions.

    `nums` holds the block_num of every row: the `m` buffered rows first,
    then the frame's rows in arrival order. `undo` and `marks` describe
    the frame's rows only: an undo row drops buffered positions above its
    mark (last_valid_block); a new row is appended, then the buffered
    prefix at or below its mark (final_block_height) is emitted (stop at
    the first non-final front — NOT a filter), then the oldest rows past
    `cap` are force-emitted. Returns (emit, keep): the emitted positions
    in emit order and the positions still buffered. Equivalence with
    FinalityBuffer is property-tested."""
    buf = deque(range(m))
    emit: list[int] = []
    for i, (is_undo, w) in enumerate(zip(undo, marks), start=m):
        if is_undo:
            buf = deque(p for p in buf if nums[p] <= w)
            continue
        buf.append(i)
        while buf and nums[buf[0]] <= w:
            emit.append(buf.popleft())
        while len(buf) > cap:
            emit.append(buf.popleft())
    return emit, list(buf)


def _finality_func(key, pdf_iter, state):
    """Grouped-map-with-state kernel: replays FinalityBuffer per stream key.

    Each frame is sorted into arrival order (`_sort_arrival`), appended
    to the buffered rows, and replayed on integer lists by `_replay`; the
    emitted rows and the new buffer are `iloc` slices of that one frame.
    Undo signals are rows with msg_type='undo' and last_valid_block set;
    they never reach the output.
    """
    import pandas as pd

    (stream_id,) = key
    buf_pdf = pd.DataFrame(
        dict(zip(_BUF_COLS, map(list, state.get)))
        if state.exists
        else {c: [] for c in _BUF_COLS}
    ).astype(_INT_COLS)

    outs: list[pd.DataFrame] = []
    for pdf in pdf_iter:
        pdf = _sort_arrival(pdf)
        is_undo = pdf["msg_type"] == "undo"
        marks = pdf["last_valid_block"].where(is_undo, pdf["final_block_height"])
        combined = pd.concat([buf_pdf, pdf[_BUF_COLS]], ignore_index=True, copy=False)
        emit, keep = _replay(
            combined["block_num"].tolist(),
            is_undo.tolist(),
            marks.tolist(),
            len(buf_pdf),
            REORG_BUFFER_LEN,
        )
        emitted = combined.iloc[emit].astype(_INT_COLS)
        emitted.insert(0, "stream_id", stream_id)
        outs.append(emitted)
        buf_pdf = combined.iloc[keep].astype(_INT_COLS).reset_index(drop=True)

    state.update(tuple(buf_pdf[c].tolist() for c in _BUF_COLS))
    yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
        columns=_OUTPUT_COLS
    )


def apply_finality_stateful(block_df):
    """Wire the finality kernel onto a (streaming or batch-test) DataFrame
    with columns (stream_id, msg_type, block_num, block_id, cursor,
    final_block_height, last_valid_block)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return block_df.groupBy("stream_id").applyInPandasWithState(
        _finality_func,
        outputStructType=FINALITY_OUTPUT_SCHEMA,
        stateStructType=FINALITY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

