#!/usr/bin/env python3
"""Loader-first benchmark of elric_rs_spark on the local box.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): stream_tail and ops_sf0.01. Each
run builds its inputs from --seed, measures closed-loop work (stream_tail
sizes it by --seconds; the ops suite is fixed), checks every output, and
prints as its LAST stdout line one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(a traced run also measures an untraced pass to state the overhead).
The line before it is a JSON detail record (environment, raw timings,
checks and, when traced, the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import Clock  # noqa: E402

CLOCK = Clock()  # set-up time counts from process start

WORKLOADS = ("stream_tail", "ops_sf0.01")
# layers a workload does not exercise report 0 in its traced run
IDLE_LAYERS = {
    "stream_tail": ("ops", "q", "memo"),
    "ops_sf0.01": ("source", "engine", "finality", "decode", "sink"),
}


def _bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import common

    if not os.path.isfile(os.path.join(common.ROOT, "elric_rs_spark", "__init__.py")):
        print("perfbench: elric_rs_spark not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _bench_spec()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"]
             for m in spec["per_layer"] + spec["end_to_end"]}

    env = common.RunEnv(args.workload, args.seed, bool(args.trace))
    env.enter()
    spark = None
    try:
        if args.workload == "stream_tail":
            from streams import stream_workload

            res = stream_workload(env, args.seed, args.seconds, bool(args.trace), CLOCK)
        else:
            from ops import ops_workload

            res = ops_workload(env, args.seed, args.seconds, bool(args.trace), CLOCK)
        spark = res.pop("spark")
        common.stop_spark(spark)
        spark = None
        leak = env.tmp_bytes()
        values = dict(res["e2e"])
        if args.trace:
            values = dict(res["layers"], **{"process.tmp_leak_bytes": leak})
            for n in names:
                if n.split(".")[0] in IDLE_LAYERS[args.workload]:
                    values.setdefault(n, 0)
        detail = dict(env=env.env_record(), detail=res["detail"],
                      tmp_leak_bytes=leak)
        if args.trace:
            detail["layers"] = res["layers"]
            detail["spans"] = res["spans"]
        missing = [n for n in names if n not in values]
        if missing:
            raise RuntimeError(f"workload did not report {missing}")
        metrics = {n: common.metric(values[n], units[n]) for n in names}
    except Exception:
        traceback.print_exc()
        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            common.stop_spark(spark)
        env.cleanup()
        return 1
    env.cleanup()
    common.emit({"perfbench": detail})
    common.emit(dict(correct=res["failed"] == 0, attempted=res["attempted"],
                     failed=res["failed"], metrics=metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
