#!/usr/bin/env python3
"""Streaming-pipeline throughput bench (the reference's headline claim).

The reference's performance posture is qualitative — "insert data into
Clickhouse as fast as possible" (ref README.md:3) with NO published
numbers — so this records the graft's self-baseline for the full
wire-to-typed-tables topology: finality buffer on the reader thread ->
land the final block change-sets -> tail as a stream -> JSON decode ->
composite-PK merge -> typed cast -> per-table parquet sink (the
ClickHouse stand-in).

Two rows per block across two tables (the reference's own end-to-end
test shape, ref loader.rs:358-402). Prints ONE JSON line:
  {"metric": "pipeline_blocks_per_sec", ...}

    python bench_streaming.py [n_blocks] [json|protobuf|http]

`http` decodes JSON like the default and sinks into an in-process
recording stand-in for ClickHouse's HTTP interface (the mock of
tests/test_sink.py, reduced to counters) instead of parquet: the JSON
line adds the rows the stand-in received per second and the POSTs per
micro-batch (one per table with rows, plus the cursor). It is the only measurement of the ClickHouse writer, since
there is no ClickHouse server here.

Not wired into bench.py (the driver contract is one JSON line of query
timings); run manually and record in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# this checkout's package and test helpers, wherever it lives
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tests"))

# Throughput floor gate (VERDICT r05 next-round #5): three successive
# measurements drifted 819 -> 731 -> 653 blocks/s with each step "inside
# the band"; the gate pins a floor so the next drift step FAILS instead
# of re-widening the band. Enforced only when the box was idle at start
# (load_1m < 1.0, the same canary threshold BASELINE.md:236-244 uses for
# the query bench) — on a loaded box the number is attribution-free.
# Floor calibration: r6 idle-era boxes measure ~466 blocks/s at the
# default 20k blocks with the box running ~1.4x slower than the r4 era
# (uniform across the 49-query control suite — see BASELINE.md r6
# note), so 380 catches a >20% code regression on the slowest observed
# box class while staying quiet across box-speed changes of the size
# actually observed.
FLOOR_BLOCKS_PER_SEC = 380.0
FLOOR_MIN_BLOCKS = 10_000  # short runs are overhead-dominated; don't gate
# The floor above is calibrated on the JSON-decode topology. The
# protobuf wire path is slower BY DESIGN (the mapInPandas pure-Python
# decode premium, measured 0.81x JSON at the 40k-block r4 protocol and
# re-confirmed round 7: 600.9 blocks/s at 40k — above the 592 r4
# record — while a 20k run reads 366 purely from fixed-overhead
# amortization). Gate protobuf runs at the same 20% regression margin
# applied to ITS baseline, not JSON's.
FLOOR_BY_MODE = {"json": FLOOR_BLOCKS_PER_SEC, "protobuf": 308.0}


# Ingest-dedup mode floor: sf0.1 corpus (5,000 docs) through the
# incremental near-dup probe in 10 id-ordered micro-batches. Round-8
# calibration across box states: 77.8 docs/s at a true idle start
# (load 0.38), 70.9 at load 1.4, 86.8 at load ~4 (post-warm page
# cache), 69.7 with a concurrent fixture-generation job — a 70-87
# band, dominated by per-epoch plan+probe fixed cost at this tiny
# 500-doc batch size (real deliveries batch 100x more docs per epoch
# and amortize it). The floor gates only on idle starts (load_1m < 1);
# 60 catches a >20% regression from the band's low end without false
# FAILs inside it.
DEDUP_FLOOR_DOCS_PER_SEC = 60.0
DEDUP_N_BATCHES = 10
# the bytes IngestDedupIndex.epoch_stats records each delivery published
DEDUP_BYTE_FIELDS = ("verdicts_bytes", "index_bytes", "grams_bytes")


def with_running_totals(epochs: list[dict], totals: dict | None = None) -> list[dict]:
    """Each epoch_stats row plus `<field>_total`, the bytes published up
    to and including that delivery, counted on from `totals` (which is
    updated, so a second wave can continue the first wave's totals)."""
    totals = {} if totals is None else totals
    rows = []
    for e in epochs:
        row = dict(e)
        for k in DEDUP_BYTE_FIELDS:
            totals[k] = totals.get(k, 0) + e[k]
            row[f"{k}_total"] = totals[k]
        rows.append(row)
    return rows


def run_dedup_mode(load_start: float) -> None:
    """`bench_streaming.py dedup [sf_dir] [n_batches]`: the ingest-time
    near-dup stage (streaming/ingest_dedup.py) over the documents
    corpus split into id-ordered micro-batches — the stream twin of
    q_dedup_stream_batch, benched at delivery granularity. n_batches
    sets the delivery granularity: 10 (default) measures the per-epoch
    fixed-cost regime; 1 over a >=50k-doc corpus measures the MARGINAL
    per-doc cost (VERDICT r08 #2). The JSON carries the per-epoch
    index-growth curve (probe wall vs the bytes each delivery published
    to each store, with their running totals) — the number that
    predicts 100 TB probe cost. A trailing `--compact` arg
    runs `IngestDedupIndex.compact_state` after the stream and records
    the fold wall + per-store (files_before, files_after) — the
    delivery-count file-growth lever (one file per store per epoch
    until the fold collapses it)."""
    import tempfile as _tf

    from elric_rs_spark.session import get_spark
    from elric_rs_spark.streaming.ingest_dedup import run_ingest_dedup_stream

    pos = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = pos[0] if len(pos) > 0 else "/root/testdata/sf0.1"
    n_batches = int(pos[1]) if len(pos) > 1 else DEDUP_N_BATCHES
    spark = get_spark("elric_rs_spark_dedup_bench")
    spark.sparkContext.setLogLevel("ERROR")
    d = _tf.mkdtemp(prefix="elric_dbench_")
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
        # strictly increasing mtimes: FileStreamSource orders by mtime,
        # not name; same-mtime files could deliver out of id order
        t_mt = time.time()
        for b in range(n_batches):
            chunk = docs.iloc[b * per : (b + 1) * per]
            if len(chunk):
                p = f"{landing}/batch_{b:04d}.parquet"
                chunk.to_parquet(p, index=False)
                os.utime(p, (t_mt + b, t_mt + b))
        t0 = time.monotonic()
        index = run_ingest_dedup_stream(
            spark, landing, f"{d}/state", f"{d}/ckpt"
        )
        wall = time.monotonic() - t0
        compact_stats = None
        if "--compact" in sys.argv:
            t_c = time.monotonic()
            folds = index.compact_state(spark)
            compact_stats = {
                "fold_wall_sec": round(time.monotonic() - t_c, 2),
                **{k: list(v) for k, v in folds.items()},
            }
        n_verdicts = index.read_verdicts(spark).count()
        dps = round(n / wall, 1)
        idle = load_start < 1.0
        # the floor is calibrated at the default granularity only; a
        # different n_batches changes the fixed/marginal mix
        gate_armed = idle and n_batches == DEDUP_N_BATCHES
        print(
            json.dumps(
                {
                    "metric": "ingest_dedup_docs_per_sec",
                    "value": dps,
                    "unit": "docs/sec",
                    "n_docs": n,
                    "n_batches": n_batches,
                    "n_verdicts": n_verdicts,
                    "wall_sec": round(wall, 2),
                    "compact": compact_stats,
                    "epochs": with_running_totals(index.epoch_stats),
                    "load_1m_start": load_start,
                    "load_1m_end": round(os.getloadavg()[0], 2),
                    "floor_gate": (
                        ("pass" if dps >= DEDUP_FLOOR_DOCS_PER_SEC else "FAIL")
                        if gate_armed
                        else "not-enforced (loaded box or non-default batching)"
                    ),
                }
            )
        )
        if gate_armed and dps < DEDUP_FLOOR_DOCS_PER_SEC:
            sys.exit(2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def recording_clickhouse():
    """Start an HTTP server on localhost that answers every INSERT with
    200 and counts POSTs and ArrowStream rows per table. Returns (server,
    counts) with counts = {table: [posts, rows]}."""
    import threading
    import urllib.parse
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import pyarrow as pa

    counts: dict[str, list[int]] = {}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            query = urllib.parse.parse_qs(
                urllib.parse.urlparse(self.path).query)["query"][0]
            body = self.rfile.read(int(self.headers["Content-Length"]))
            table = query.split("INSERT INTO ", 1)[1].split(" ", 1)[0]
            rows = pa.ipc.open_stream(body).read_all().num_rows
            with lock:
                c = counts.setdefault(table, [0, 0])
                c[0] += 1
                c[1] += rows
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, counts


def main() -> None:
    load_start = round(os.getloadavg()[0], 2)
    if len(sys.argv) > 1 and sys.argv[1] == "dedup":
        run_dedup_mode(load_start)
        return
    n_blocks = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    decode_mode = sys.argv[2] if len(sys.argv) > 2 else "json"
    from elric_rs_spark.session import get_spark
    from elric_rs_spark.streaming.pipeline import TypedPerTableSink, run_pipeline
    from elric_rs_spark.streaming.source import land_blocks
    from test_pipeline import APPROVALS_SCHEMA, TRANSFERS_SCHEMA, _blocks

    spark = get_spark("elric_rs_spark_stream_bench")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="elric_sbench_")
    try:
        landing, ckpt, out = f"{d}/landing", f"{d}/ckpt", f"{d}/out"
        if decode_mode == "protobuf":
            # the reference-faithful wire format: DatabaseChanges bytes
            # (base64 payload), decoded by the pure-Python wire reader
            # inside Arrow-batched mapInPandas (pipeline.py T1)
            import base64

            from test_protowire import enc_database_changes, enc_table_change

            def _pb_payload(n: int) -> str:
                raw = enc_database_changes(
                    enc_table_change(
                        "transfers",
                        {
                            "contract_address": "ab",
                            "evt_block_number": str(n),
                            "value": str((1 << 200) + n),
                            "evt_block_time": f"2024-08-07T00:00:{n % 60:02d}Z",
                        },
                        composite_pk={"evt_tx_hash": f"0x{n:x}",
                                      "evt_index": str(n)},
                    ),
                    enc_table_change(
                        "approvals",
                        {"owner": f"o{n}", "spender": f"s{n}",
                         "amount": str(n * 10)},
                        single_pk="SHOULD_NOT_OVERRIDE",
                    ),
                )
                return base64.b64encode(raw).decode()

        blocks = _blocks(n_blocks, reorg_depth=12)
        if decode_mode == "protobuf":
            for b in blocks:
                b["payload"] = _pb_payload(b["block_num"])

        t_land = time.monotonic()
        land_blocks(spark, blocks, landing, batch_size=5_000)
        land_s = time.monotonic() - t_land

        schema = dict(TRANSFERS_SCHEMA, evt_tx_hash="String", evt_index="UInt32")
        server = None
        if decode_mode == "http":
            server, posted = recording_clickhouse()
            sink = TypedPerTableSink(
                f"http://127.0.0.1:{server.server_port}",
                {"transfers": schema, "approvals": APPROVALS_SCHEMA},
            )
        elif decode_mode == "protobuf":
            from elric_rs_spark.streaming.pipeline import decode_changes_protobuf

            sink = TypedPerTableSink(
                out,
                {"transfers": schema, "approvals": APPROVALS_SCHEMA},
                decode=decode_changes_protobuf,
            )
        else:
            sink = TypedPerTableSink(
                out, {"transfers": schema, "approvals": APPROVALS_SCHEMA}
            )
        t0 = time.monotonic()
        q = run_pipeline(spark, landing, ckpt, sink)
        finished = q.awaitTermination(600)
        wall = time.monotonic() - t0
        if not finished:
            # a timed-out run must not masquerade as a measurement
            q.stop()
            print(json.dumps({"metric": "pipeline_blocks_per_sec",
                              "error": "timeout", "n_blocks": n_blocks}))
            sys.exit(1)

        http = {}
        if server is not None:
            server.shutdown()
            server.server_close()
            n_rows = sum(r for t, (_, r) in posted.items() if t != "cursors")
            batches = posted.get("cursors", [0])[0]  # one cursor POST each
            http = {
                "http_batches": batches,
                "http_posts_per_batch": round(
                    sum(p for p, _ in posted.values()) / max(batches, 1), 2),
                "http_posts": {t: p for t, (p, _) in sorted(posted.items())},
            }
        else:
            n_rows = sum(
                spark.read.parquet(f"{out}/data/{t}").count()
                for t in ("transfers", "approvals")
            )
        bps = round(n_blocks / wall, 1)
        idle = load_start < 1.0
        # the floors are calibrated on the parquet sink only
        gated = idle and n_blocks >= FLOOR_MIN_BLOCKS and decode_mode in FLOOR_BY_MODE
        print(
            json.dumps(
                {
                    "metric": "pipeline_blocks_per_sec",
                    "decode": decode_mode,
                    "value": bps,
                    "unit": "blocks/sec",
                    "rows_per_sec": round(n_rows / wall, 1),
                    "n_blocks": n_blocks,
                    "typed_rows_landed": n_rows,
                    "pipeline_wall_sec": round(wall, 2),
                    "landing_write_sec": round(land_s, 2),
                    **http,
                    "load_1m_start": load_start,
                    "load_1m_end": round(os.getloadavg()[0], 2),
                    "floor_gate": (
                        "pass"
                        if bps >= FLOOR_BY_MODE.get(
                            decode_mode, FLOOR_BLOCKS_PER_SEC
                        )
                        else "FAIL"
                    )
                    if gated
                    else "not-enforced (loaded box or short run)",
                }
            )
        )
        if gated and bps < FLOOR_BY_MODE.get(decode_mode, FLOOR_BLOCKS_PER_SEC):
            sys.exit(2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
