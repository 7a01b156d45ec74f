"""End-to-end curation dry run with per-stage wall + shuffle accounting
(VERDICT r07 #5): materialize each stage boundary of the q_curation_v4
DAG at a big local scale (default .scratch/sf3) and report, per stage,
the CUMULATIVE plan wall (each boundary re-executes its upstream —
there is deliberately no materialization boundary in the production
plan) plus the exact shuffle read/write bytes and records from Spark's
status-store REST API, diffed per run. The deltas between cumulative
rows are the honest per-stage cost estimates; the manifest row is the
production number.

Usage: python tools/curation_dryrun.py [sf_dir] [--v5]
--v5 measures the q_curation_v5 DAG instead (v4 + near-dup cluster
drop + leakage-safe split + per-split packing, VERDICT r08 #3).
Prints one human table and one JSON line (recorded in DEPLOY.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ["keep", "uniq", "clean", "manifest"]
STAGES_V5 = ["uniq", "nodup", "clean", "manifest"]


def _rest_totals(port: int, app_id: str) -> dict:
    """Sum shuffle metrics over all completed stages so far."""
    url = f"http://localhost:{port}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_records": 0, "input_bytes": 0}
    for s in stages:
        out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        out["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
        out["input_bytes"] += s.get("inputBytes", 0)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--v5"]
    v5 = "--v5" in sys.argv[1:]
    sf_dir = args[0] if args else ".scratch/sf3"
    load_start = round(os.getloadavg()[0], 2)

    from pyspark.sql import SparkSession

    from elric_rs_spark.session import shuffle_partitions_for

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("curation_dryrun")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions_for(sf_dir)))
        .config("spark.ui.enabled", "true")  # the REST metrics source
        .config("spark.ui.port", "4049")
        .config("spark.sql.session.timeZone", "UTC")
        # match the engine session (session.py): the v5 DAG broadcasts
        # the benchmark gram set, which outgrows the 1g driver default
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1])

    from elric_rs_spark.operators.curation import (
        curation_v4_frames,
        curation_v5_frames,
    )

    frames_fn = curation_v5_frames if v5 else curation_v4_frames
    stages = STAGES_V5 if v5 else STAGES

    # warmup: pay scan/JIT once so stage deltas compare plan work
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    rows = []
    prev = _rest_totals(port, app_id)
    prev_wall = 0.0
    shared_frames = None
    if v5:
        # v5's frames construction EAGERLY runs the memoized pair build
        # + connected components (a pin per star round) —
        # real work that must be on the books. Time it as its own row;
        # the stage writes then share the checkpointed labels, which is
        # exactly the production execution shape (one plan).
        t0 = time.perf_counter()
        shared_frames = frames_fn(spark, sf_dir)
        wall = round(time.perf_counter() - t0, 2)
        cur = _rest_totals(port, app_id)
        d = {k: cur[k] - prev[k] for k in cur}
        rows.append(
            {
                "stage": "pair_cc_build",
                "cum_wall_sec": wall,
                "delta_wall_sec": wall,
                "shuffle_write_mb": round(d["shuffle_write_bytes"] / 1e6, 1),
                "shuffle_read_mb": round(d["shuffle_read_bytes"] / 1e6, 1),
                "shuffle_write_records": d["shuffle_write_records"],
                "input_mb": round(d["input_bytes"] / 1e6, 1),
            }
        )
        prev = cur
    for stage in stages:
        # v4: fresh plan per run; v5: shared frames (see above)
        frames = shared_frames if v5 else frames_fn(spark, sf_dir)
        t0 = time.perf_counter()
        frames[stage].write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 2)
        cur = _rest_totals(port, app_id)
        d = {k: cur[k] - prev[k] for k in cur}
        rows.append(
            {
                "stage": stage,
                "cum_wall_sec": wall,
                "delta_wall_sec": round(wall - prev_wall, 2),
                "shuffle_write_mb": round(d["shuffle_write_bytes"] / 1e6, 1),
                "shuffle_read_mb": round(d["shuffle_read_bytes"] / 1e6, 1),
                "shuffle_write_records": d["shuffle_write_records"],
                "input_mb": round(d["input_bytes"] / 1e6, 1),
            }
        )
        prev, prev_wall = cur, wall

    hdr = (f"{'stage':<10} {'cum_wall':>9} {'d_wall':>7} {'shW_MB':>8} "
           f"{'shR_MB':>8} {'shW_rec':>10} {'in_MB':>8}")
    print(hdr)
    for r in rows:
        print(
            f"{r['stage']:<10} {r['cum_wall_sec']:>9.2f} "
            f"{r['delta_wall_sec']:>7.2f} {r['shuffle_write_mb']:>8.1f} "
            f"{r['shuffle_read_mb']:>8.1f} {r['shuffle_write_records']:>10d} "
            f"{r['input_mb']:>8.1f}"
        )
    print(
        json.dumps(
            {
                "metric": "curation_v5_dryrun" if v5 else "curation_v4_dryrun",
                "sf_dir": sf_dir,
                "stages": rows,
                "load_1m_start": load_start,
                "load_1m_end": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
