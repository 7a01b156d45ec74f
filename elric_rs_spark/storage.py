"""Persisted files on a local filesystem: one way to publish a file, to
swap a store directory, and to list a store's parquet files.

Every piece of persisted state goes through these: the typed sink's
epoch files and cursor (streaming/sink.py), the ingest-dedup stores and
their watermark (streaming/ingest_dedup.py), the streaming mart and its
compaction watermark (streaming/mart.py), and the ns -> us fixture cache
(tables.py). An object store would write a versioned prefix and flip a
manifest instead; the contract stays the same: a reader sees a whole
file or none, and a lost store fails loudly, never reads as empty.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

# reserved epoch id of rows folded by a compaction; real foreachBatch
# epochs are >= 0
COMPACTED_EPOCH = -1


def publish(directory: str, name: str, data: pa.Table | str) -> int:
    """Write `data` (a table as parquet, or a text) to a hidden temp file
    in `directory`, then rename it to `name`, replacing a file of that
    name. Returns the published file's bytes."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    path = os.path.join(directory, name)
    try:
        if isinstance(data, str):
            with open(tmp, "w") as f:
                f.write(data)
        else:
            pq.write_table(data, tmp)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return os.path.getsize(path)


def swap_in(tmp: str, dst: str) -> None:
    """Replace the store `dst` with the freshly written dir `tmp`. The old
    dir moves aside to `dst__old` first, then `tmp` moves into place, then
    the aside copy goes. A crash in any window leaves either `dst` intact
    or `dst` missing next to a `__compact`/`__old` sibling, which
    `guard_missing` refuses to read or write past."""
    old = f"{dst}__old"
    if os.path.isdir(old):
        shutil.rmtree(old)  # leftover of a swap that died after its move
    os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old)


def guard_missing(path: str) -> None:
    """Raise if the store `path` is missing while a swap sibling exists:
    the state is in `__compact` and/or `__old`, and reading the store as
    empty, or starting a fresh one, would silently lose it."""
    if os.path.isdir(path):
        return
    for suffix in ("__compact", "__old"):
        if os.path.isdir(path + suffix):
            raise RuntimeError(
                f"store {path} is missing but {path + suffix} exists: a "
                "store swap was interrupted; rename the sibling back into "
                "place before resuming"
            )


def parquet_files(path: str) -> dict[str, int]:
    """{file: bytes} of every *.parquet file under `path`, recursively
    (a Hive-partitioned store keeps its files in key=value subdirs). A
    missing dir has none."""
    return {
        p: os.path.getsize(p)
        for root, _dirs, names in os.walk(path)
        for p in (os.path.join(root, n) for n in names if n.endswith(".parquet"))
    }
