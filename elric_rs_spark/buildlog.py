"""Session memos and their build attribution log (VERDICT r11 #7).

Every session-scoped shared build (KMV sketch, CC labels, portable
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

BUILDS: list[dict] = []

# (applicationId, sf_dir, name) -> the pinned build. Only one
# SparkContext is live per driver, so entries of any other application
# belong to a stopped session and are dropped on the next lookup.
MEMO: dict[tuple[str, str, str], DataFrame] = {}


def record(name: str, sec: float) -> None:
    BUILDS.append({"name": name, "sec": round(sec, 3)})


def session_memo(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """`build()` once per (session, sf_dir, name); later calls return
    the same DataFrame. `build` owns its materialization (checkpoint or
    table write) — the memo only keys, times and logs it."""
    app = spark.sparkContext.applicationId
    for key in [k for k in MEMO if k[0] != app]:
        del MEMO[key]
    key = (app, sf_dir, name)
    if key not in MEMO:
        t0 = time.perf_counter()
        MEMO[key] = build()
        record(name, time.perf_counter() - t0)
    return MEMO[key]
