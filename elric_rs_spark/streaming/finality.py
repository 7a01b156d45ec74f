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

Finality runs on the reader thread, before landing, as in the
reference, whose loader keeps the buffer in memory: `source.land_blocks`
passes each chunk of demuxed messages through `replay_chunk`, which
keeps one buffer per stream id and lands only the emitted blocks. Undo
signals and undone blocks never reach disk, so the streaming query needs
no stateful operator. `FinalityBuffer` is the pure-Python state machine:
the reference model, unit-tested against the reference's own three
loader tests. The one kernel, `_replay`, applies the buffer's push/undo
rules to row positions and is property-tested against `FinalityBuffer`,
undos included.
"""

from __future__ import annotations

import math
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


def _replay(nums: list, undo: list, marks: list, m: int, cap: int):
    """FinalityBuffer.push/undo replayed on row positions.

    `nums` holds the block_num of every row: the `m` buffered rows first,
    then the chunk's rows in arrival order. `undo` and `marks` describe
    the chunk's rows only: an undo row drops buffered positions above its
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


def _mark(msg: dict) -> float:
    w = msg.get("last_valid_block" if msg.get("msg_type") == "undo" else "final_block_height")
    return -math.inf if w is None else w


def replay_chunk(buffers: dict, chunk: list[dict]) -> tuple[list[dict], dict]:
    """One chunk of demuxed messages through one FinalityBuffer per
    stream_id, replayed by `_replay`. `buffers` maps each stream_id to its
    buffered messages in arrival order and is left untouched. Returns the
    messages that became final (each stream's in emit order) and the new
    buffers.

    An undo is a message with msg_type 'undo'; every other message is a
    new block. A null mark (final_block_height, or an undo's
    last_valid_block) and a null block_num compare false, so a block
    with a null watermark is only ever overflow-emitted and an undo with
    a null last_valid_block empties its stream's buffer."""
    by_stream: dict = {}
    for msg in chunk:
        by_stream.setdefault(msg.get("stream_id"), []).append(msg)
    emitted: list[dict] = []
    out = dict(buffers)
    for sid, msgs in by_stream.items():
        rows = buffers.get(sid, []) + msgs
        emit, keep = _replay(
            [math.inf if r.get("block_num") is None else r["block_num"] for r in rows],
            [r.get("msg_type") == "undo" for r in msgs],
            [_mark(r) for r in msgs],
            len(rows) - len(msgs),
            REORG_BUFFER_LEN,
        )
        emitted += [rows[p] for p in emit]
        out[sid] = [rows[p] for p in keep]
    return emitted, out
