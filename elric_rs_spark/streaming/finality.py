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

Two implementations:
1. `FinalityBuffer` — the pure-Python state machine. Used directly in
   foreachBatch (single-consumer, exactly the reference's topology) and
   unit-tested against the reference's own three loader tests.
2. `apply_finality_stateful` — the distributed form via
   `applyInPandasWithState`, keyed by stream id, state = the buffered blocks. Scales to many independent
   streams; each stream's buffer is tiny (<=12 rows) so state stays small
   no matter the data volume.
"""

from __future__ import annotations

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


def _replay_pdf(buf: FinalityBuffer, pdf, stream_id: str) -> list[tuple]:
    """Slow-path kernel: replay one pandas frame of messages through the
    buffer, returning flushed output tuples.

    Arrival order, not block order: block numbers repeat in the reorg
    case (an undo shares the dropped block's number; replacement blocks
    reuse numbers), and pandas' default quicksort is unstable. `seq` is
    the source's monotonic arrival counter. Rows with null seq (data
    landed by a pre-seq writer) sort FIRST in their original frame order
    (they were landed earlier; stable sort preserves file order within
    them). Frames with NO usable seq at all (column absent, or present
    but all-null) fall back to a stable block_num sort — a sort is still
    mandatory there because Spark gives no row-order guarantee after the
    groupBy shuffle."""
    pdf = _sort_arrival(pdf)
    out_rows: list[tuple] = []
    for row in pdf.itertuples(index=False):
        if getattr(row, "msg_type", "new") == "undo":
            buf.undo(int(row.last_valid_block))
            continue
        flushed = buf.push(
            Block(
                int(row.block_num),
                str(row.block_id),
                str(row.cursor),
                int(row.final_block_height),
                getattr(row, "payload", None),
            )
        )
        out_rows.extend(
            (
                stream_id,
                b.block_num,
                b.block_id,
                b.cursor,
                b.final_block_height,
                b.payload,
            )
            for b in flushed
        )
    return out_rows


_OUTPUT_COLS = [
    "stream_id",
    "block_num",
    "block_id",
    "cursor",
    "final_block_height",
    "payload",
]

_BUF_COLS = ["block_num", "block_id", "cursor", "final_block_height", "payload"]


def _sort_arrival(pdf):
    """Arrival-order sort shared by both kernels (see _replay_pdf doc)."""
    if "seq" in pdf.columns and pdf["seq"].notna().any():
        return pdf.sort_values("seq", kind="stable", na_position="first")
    return pdf.sort_values("block_num", kind="stable")


def _emit_count(buf_nums: list, new_nums: list, watermarks: list, cap: int) -> int:
    """Vectorized-fast-path core: how many rows of (buffer + batch), in
    arrival order, the sequential push() loop would emit.

    Replays the reference's per-block rule (ref loader.rs:82-109) on
    integer lists instead of row objects: after appending row i, advance
    the emit pointer over the prefix while front.block_num <= that row's
    watermark (stop at the first non-final front — NOT a filter), then
    force it forward if more than `cap` rows remain buffered. Amortized
    O(n); equivalence with FinalityBuffer.push is property-tested."""
    nums = buf_nums + new_nums
    m = len(buf_nums)
    p = 0
    for i, w in enumerate(watermarks):
        total = m + i + 1
        while p < total and nums[p] <= w:
            p += 1
        if total - p > cap:
            p = total - cap
    return p


def _finality_func(key, pdf_iter, state):
    """Grouped-map-with-state kernel: replays FinalityBuffer per stream key.

    Input rows must arrive in block order within the micro-batch (the
    source guarantees per-stream ordering via `seq`). Undo signals are
    rows with msg_type='undo' and last_valid_block set.

    Two kernels per frame: undo-free frames (the steady state — reorgs
    are rare) take a FAST PATH that computes the emit count on integer
    lists and emits a DataFrame SLICE, avoiding per-row object churn
    (measured 37 s -> sub-second for a 40k-row micro-batch); frames
    containing an undo replay the exact row-by-row state machine.
    """
    import pandas as pd

    (stream_id,) = key
    if state.exists:
        nums, ids, curs, heights, payloads = state.get
        buf_pdf = pd.DataFrame(
            {
                "block_num": list(nums),
                "block_id": list(ids),
                "cursor": list(curs),
                "final_block_height": list(heights),
                "payload": list(payloads),
            }
        ).astype({"block_num": "int64", "final_block_height": "int64"})
    else:
        buf_pdf = pd.DataFrame(
            {
                "block_num": pd.Series([], dtype="int64"),
                "block_id": pd.Series([], dtype="object"),
                "cursor": pd.Series([], dtype="object"),
                "final_block_height": pd.Series([], dtype="int64"),
                "payload": pd.Series([], dtype="object"),
            }
        )

    outs: list[pd.DataFrame] = []
    for pdf in pdf_iter:
        has_undo = (
            "msg_type" in pdf.columns and (pdf["msg_type"] == "undo").any()
        )
        if has_undo:
            # exact slow path: rebuild Block objects, replay, store back
            buf = FinalityBuffer(
                buffer=[
                    Block(
                        int(r.block_num),
                        r.block_id,
                        r.cursor,
                        int(r.final_block_height),
                        r.payload,
                    )
                    for r in buf_pdf.itertuples(index=False)
                ]
            )
            rows = _replay_pdf(buf, pdf, stream_id)
            outs.append(pd.DataFrame(rows, columns=_OUTPUT_COLS))
            buf_pdf = pd.DataFrame(
                {
                    "block_num": [b.block_num for b in buf.buffer],
                    "block_id": [b.block_id for b in buf.buffer],
                    "cursor": [b.cursor for b in buf.buffer],
                    "final_block_height": [b.final_block_height for b in buf.buffer],
                    "payload": [b.payload for b in buf.buffer],
                }
            )
        else:
            pdf = _sort_arrival(pdf)
            combined = pd.concat(
                [buf_pdf, pdf[_BUF_COLS]], ignore_index=True, copy=False
            )
            p = _emit_count(
                buf_pdf["block_num"].tolist(),
                pdf["block_num"].tolist(),
                pdf["final_block_height"].tolist(),
                REORG_BUFFER_LEN,
            )
            emitted = combined.iloc[:p].copy()
            emitted.insert(0, "stream_id", stream_id)
            outs.append(emitted[_OUTPUT_COLS])
            buf_pdf = combined.iloc[p:].reset_index(drop=True)

    state.update(
        (
            [int(v) for v in buf_pdf["block_num"]],
            [str(v) for v in buf_pdf["block_id"]],
            [str(v) for v in buf_pdf["cursor"]],
            [int(v) for v in buf_pdf["final_block_height"]],
            list(buf_pdf["payload"]),
        )
    )
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

