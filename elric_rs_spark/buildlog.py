"""Pins, session memos and the memos' build attribution log (VERDICT r11 #7).

`pin` is the one way to materialize a stage that several consumers
read. Every session-scoped shared build (KMV sketch, CC labels, portable
pairs, kernel grams, co-purchase edges, IVF celldots, winnow selection)
goes through `session_memo`, which records the build's name and wall
seconds here when it actually BUILDS (cache misses only). bench.py
snapshots the log length around each timed query and emits a `builds`
section in the payload, so a memo consumer's bench row is interpretable
from the JSON alone: the first consumer in suite order pays the build
inside its own timed region, and the payload says which query paid for
which build and how much of its row is amortizable shared work.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

BUILDS: list[dict] = []

# (applicationId, sf_dir, name) -> the pinned build. Only one
# SparkContext is live per driver, so entries of any other application
# belong to a stopped session and are dropped on the next lookup.
MEMO: dict[tuple[str, str, str], DataFrame] = {}


def record(name: str, sec: float) -> None:
    BUILDS.append({"name": name, "sec": round(sec, 3)})


def pin(df: DataFrame) -> DataFrame:
    """Materialize `df` now and return a DataFrame over the stored rows,
    so every consumer reads them instead of re-running the plan.

    With a checkpoint dir (`setCheckpointDir` or `spark.checkpoint.dir`)
    the pin is a reliable checkpoint: its files survive executor loss,
    and `get_spark` has the cleaner delete them once the DataFrame is
    garbage-collected. Without one it is a DISK_ONLY local checkpoint:
    one job, blocks on executor disks, never deserialized on the heap
    (pins kept in memory hit out-of-memory errors at sf30 in r11)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def session_memo(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """`build()` once per (session, sf_dir, name); later calls return
    the same DataFrame. `build` owns its materialization (a `pin`, or
    the co-purchase parquet table) — the memo only keys, times and logs
    it, and keeps the pinned DataFrame alive for the session."""
    app = spark.sparkContext.applicationId
    for key in [k for k in MEMO if k[0] != app]:
        del MEMO[key]
    key = (app, sf_dir, name)
    if key not in MEMO:
        t0 = time.perf_counter()
        MEMO[key] = build()
        record(name, time.perf_counter() - t0)
    return MEMO[key]
