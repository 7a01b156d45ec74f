"""Ingest-dedup growth curve with MID-RUN compaction (VERDICT r9 #6).

Round-9 measured the incremental near-dup probe flat at sf1 (50k docs,
index to 7.6 MB) with compaction only ever run AFTER the stream. This
tool measures the remaining unmeasured term in the 100 TB ingest story:
a long-lived pipeline interleaves deliveries and folds, so the numbers
that matter are (a) probe wall vs index size ACROSS a fold boundary,
(b) the fold's own wall at a growing index, and (c) that verdicts are
unchanged by folding mid-run (the replay-absorption contract).

Protocol: split the corpus into n_batches id-ordered deliveries; land
and stream the first half (availableNow), compact_state, land and
stream the rest against the SAME state+checkpoint (FileStreamSource
resumes from the checkpoint; the fold rewrote store files but
membership facts are identical). Print one JSON line with per-epoch
walls, the bytes each delivery published to each store and their
running totals across both waves, fold stats, and a verdict-count
cross-check against a single-pass reference run at the same
granularity.

Usage: python tools/ingest_growth.py [sf_dir] [n_batches]
Defaults: .scratch/sf3 30 (150k docs, 5k-doc deliveries).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# this checkout's package and bench helpers, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def land(docs, landing: str, lo_batch: int, hi_batch: int, per: int, t_mt: float) -> None:
    for b in range(lo_batch, hi_batch):
        chunk = docs.iloc[b * per : (b + 1) * per]
        if len(chunk):
            p = f"{landing}/batch_{b:04d}.parquet"
            chunk.to_parquet(p, index=False)
            os.utime(p, (t_mt + b, t_mt + b))


def main() -> None:
    from bench_streaming import with_running_totals
    from elric_rs_spark.session import get_spark
    from elric_rs_spark.streaming.ingest_dedup import run_ingest_dedup_stream

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf3"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    spark = get_spark("elric_ingest_growth")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="elric_growth_")
    try:
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .toPandas()
        )
        n = len(docs)
        per = (n + n_batches - 1) // n_batches
        landing = f"{d}/landing"
        os.makedirs(landing)
        t_mt = time.time()
        half = n_batches // 2

        # wave 1
        land(docs, landing, 0, half, per, t_mt)
        t0 = time.monotonic()
        index = run_ingest_dedup_stream(spark, landing, f"{d}/state", f"{d}/ckpt")
        wave1_wall = round(time.monotonic() - t0, 2)
        wave1_epochs = list(index.epoch_stats)

        # mid-run fold
        t_c = time.monotonic()
        folds = index.compact_state(spark)
        fold_wall = round(time.monotonic() - t_c, 2)

        # wave 2 against the folded state, same checkpoint
        land(docs, landing, half, n_batches, per, t_mt)
        t1 = time.monotonic()
        index2 = run_ingest_dedup_stream(spark, landing, f"{d}/state", f"{d}/ckpt")
        wave2_wall = round(time.monotonic() - t1, 2)

        n_verdicts = index2.read_verdicts(spark).count()

        # single-pass reference at the same granularity (fresh state):
        # mid-run folding must not change a single verdict row
        ref_dir = f"{d}/ref"
        os.makedirs(f"{ref_dir}")
        ref = run_ingest_dedup_stream(
            spark, landing, f"{ref_dir}/state", f"{ref_dir}/ckpt"
        )
        ref_verdicts = ref.read_verdicts(spark)
        got_verdicts = index2.read_verdicts(spark)
        diff = (
            ref_verdicts.exceptAll(got_verdicts).count()
            + got_verdicts.exceptAll(ref_verdicts).count()
        )

        totals: dict = {}
        print(
            json.dumps(
                {
                    "metric": "ingest_growth_midfold",
                    "sf_dir": sf_dir,
                    "n_docs": n,
                    "n_batches": n_batches,
                    "wave1_wall_sec": wave1_wall,
                    "fold_wall_sec": fold_wall,
                    "fold_stats": {k: list(v) for k, v in folds.items()},
                    "wave2_wall_sec": wave2_wall,
                    "n_verdicts": n_verdicts,
                    "verdict_diff_vs_single_pass": diff,
                    "epochs_wave1": with_running_totals(wave1_epochs, totals),
                    "epochs_wave2": with_running_totals(index2.epoch_stats, totals),
                    "load_1m_end": round(os.getloadavg()[0], 2),
                }
            )
        )
        if diff:
            sys.exit(2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
