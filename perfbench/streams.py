"""The loader workload `stream_tail`: the live head of a chain, JSON
change-set blocks of 2 rows each with seeded reorgs.

It drives the user path: blocks go through `ReconnectingReader -> demux
-> land_blocks`, then `python -m elric_rs_spark setup` and
`run --decode json` drain them, called in-process through
`elric_rs_spark.__main__.main`. Outputs are checked against
`FinalityModel`, a model of the reference's finality buffer kept here
and independent of the package's `FinalityBuffer`.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

from common import cpu_s, dir_bytes, dir_files, median

BUFFER_LEN = 12  # the reference's finality buffer (loader.rs:24)
CHUNK = 500  # land_blocks' default chunk
# With local[4] a landed chunk is 4 files, so a stream of STREAM_BLOCKS
# (2 chunks) drains in one micro-batch of maxFilesPerTrigger=8 files:
# every measured batch has about the same size.
STREAM_BLOCKS = 900  # blocks of one measured stream
BLOCKS_PER_S = 300  # input size per second of run budget
REORGS_PER_1K = 2.0
# Warm-up: a small stream that pays the JVM's first-batch cost, then a
# full-size one. A stream's CPU falls over the first streams of a JVM
# while the JIT compiles the batch's code paths.
FIRST_BLOCKS = 60
DB_URL = "clickhouse://localhost:8123/perfbench"
DDL = """
CREATE TABLE transfers (
    contract_address FixedString(8),
    evt_block_number UInt32,
    value UInt256,
    evt_block_time DateTime,
    evt_tx_hash String,
    evt_index UInt32
) ENGINE = ReplacingMergeTree ORDER BY (evt_tx_hash, evt_index);

CREATE TABLE approvals (
    owner String,
    spender String,
    amount UInt64
) ENGINE = ReplacingMergeTree ORDER BY owner;
"""
PKS = {"transfers": ["evt_tx_hash", "evt_index"], "approvals": ["owner"]}
T0_EPOCH = 1722988800  # 2024-08-07T00:00:00Z


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------


def _rfc3339(epoch: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch))


def _block_changes(rng: random.Random, num: int, n_t: int, n_a: int, tag: str):
    """Change rows of one block: (table, fields, pk) plus the typed row
    the sink must produce for each, keyed by table. The tail's blocks
    carry one row per table (the shape of ref loader.rs:358-402)."""
    changes, typed = [], {"transfers": [], "approvals": []}
    for i in range(n_t):
        addr = f"{rng.getrandbits(24):06x}"
        value = rng.getrandbits(256)
        tx = f"0x{rng.getrandbits(64):016x}"
        changes.append(("transfers", {
            "contract_address": addr,
            "evt_block_number": str(num),
            "value": str(value),
            "evt_block_time": _rfc3339(T0_EPOCH + 12 * num),
        }, {"evt_tx_hash": tx, "evt_index": str(i)}))
        typed["transfers"].append((
            addr.encode().ljust(8, b"\0"), num, str(value),
            T0_EPOCH + 12 * num, tx, i,
        ))
    for i in range(n_a):
        owner, spender = f"o{tag}.{i}", f"s{rng.getrandbits(32):08x}"
        amount = rng.getrandbits(63)
        # a single-column pk is ignored by the loader (loader.rs:147)
        changes.append(("approvals", {
            "owner": owner, "spender": spender, "amount": str(amount),
        }, {"owner": "IGNORED"}))
        typed["approvals"].append((owner, spender, amount))
    return changes, typed


def _json_payload(changes) -> str:
    return json.dumps([{"table": t, "fields": f, "pk": pk} for t, f, pk in changes])


@dataclass
class Inputs:
    messages: list[dict]  # as the upstream sends them (incl. progress)
    typed: dict[str, dict[str, list]] = field(default_factory=dict)  # block_id -> table -> rows
    fail_at: int | None = None  # message index where the first connection drops


def _new(num: int, block_id: str, cursor: str, payload: str) -> dict:
    return {
        "stream_id": "s1", "msg_type": "new", "block_num": num,
        "block_id": block_id, "block_ts": None, "cursor": cursor,
        "final_block_height": max(num - BUFFER_LEN, 0),
        "last_valid_block": None, "payload": payload,
    }


def make_inputs(seed: int, n_blocks: int) -> Inputs:
    """A chain of n_blocks with seeded undos of depth 1-11 (at least one,
    so the warm-up stream takes the undo path too), each followed by
    replacement blocks reusing the block numbers under new ids."""
    n_reorgs = max(int(round(n_blocks * REORGS_PER_1K / 1000)), 1)
    rng = random.Random(seed)
    reorg_heads = sorted(rng.sample(range(2 * BUFFER_LEN, n_blocks), n_reorgs))
    inputs = Inputs(messages=[])
    chain: dict[int, str] = {}  # block_num -> cursor on the current fork
    fork, num = 0, 0
    while num < n_blocks:
        block_id, cursor = f"{num:08d}.{fork}", f"c{num}.{fork}"
        changes, typed = _block_changes(rng, num, 1, 1, block_id)
        inputs.messages.append(_new(num, block_id, cursor, _json_payload(changes)))
        inputs.typed[block_id] = typed
        chain[num] = cursor
        if num % 100 == 99:
            inputs.messages.append({"msg_type": "progress"})
        if reorg_heads and num == reorg_heads[0]:
            reorg_heads.pop(0)
            depth = rng.randint(1, BUFFER_LEN - 1)
            fork += 1
            last_valid = num - depth
            inputs.messages.append({
                "stream_id": "s1", "msg_type": "undo", "block_num": num,
                "block_id": None, "block_ts": None, "cursor": chain[last_valid],
                "final_block_height": None, "last_valid_block": last_valid,
                "payload": None,
            })
            num = last_valid + 1
            continue
        num += 1
    inputs.fail_at = rng.randrange(len(inputs.messages) // 4, len(inputs.messages) // 2)
    return inputs


def upstream(inputs: Inputs):
    """`connect(cursor)` for ReconnectingReader: resumes after the latest
    delivered message carrying `cursor` (an undo repeats the cursor of
    its last valid block) and drops the first connection once."""
    msgs = inputs.messages
    state = {"failed": False, "connects": 0, "sent": -1}

    def connect(cursor):
        state["connects"] += 1
        start = 0
        if cursor is not None:
            start = 1 + next(i for i in range(state["sent"], -1, -1)
                             if msgs[i].get("cursor") == cursor)
        for i in range(start, len(msgs)):
            if i == inputs.fail_at and not state["failed"]:
                state["failed"] = True
                raise ConnectionError("upstream reset")
            state["sent"] = i
            yield msgs[i]

    return connect, state


# --------------------------------------------------------------------------
# Output model
# --------------------------------------------------------------------------


class FinalityModel:
    """The reference's finality rule (loader.rs:82-109, 177-193): a new
    block is buffered, then the buffered prefix at or below its
    final_block_height is emitted, then the oldest blocks past the
    12-block cap are emitted; an undo drops buffered blocks above
    last_valid_block. Emitted blocks are final."""

    def __init__(self):
        self.buffer: list[tuple[int, str, str]] = []
        self.final: list[tuple[int, str, str]] = []
        self.undos = self.dropped = 0

    def feed(self, messages) -> "FinalityModel":
        for m in messages:
            if m["msg_type"] == "undo":
                keep = [b for b in self.buffer if b[0] <= m["last_valid_block"]]
                self.undos += 1
                self.dropped += len(self.buffer) - len(keep)
                self.buffer = keep
            elif m["msg_type"] == "new":
                self.buffer.append((m["block_num"], m["block_id"], m["cursor"]))
                while self.buffer and self.buffer[0][0] <= m["final_block_height"]:
                    self.final.append(self.buffer.pop(0))
                while len(self.buffer) > BUFFER_LEN:
                    self.final.append(self.buffer.pop(0))
        return self


def check_outputs(spark, out: str, inputs: Inputs, model: FinalityModel) -> dict:
    """Compare the sink against the model. The unit is a finalized block:
    it fails if any of its typed rows is missing, extra or wrong, or if
    the cursor does not match. Orphaned-fork rows and duplicate
    (epoch_id, block_num, pk) rows fail the blocks they belong to."""
    from pyspark.sql import functions as F

    from elric_rs_spark.streaming.sink import read_exactly_once

    expected_ids = {b[1] for b in model.final}
    bad: set[str] = set()
    got_blocks: set[str] = set()
    for table, pk in PKS.items():
        cols = {
            "transfers": [F.col("contract_address"), F.col("evt_block_number"),
                          F.col("value"), F.col("evt_block_time").cast("long"),
                          F.col("evt_tx_hash"), F.col("evt_index")],
            "approvals": [F.col("owner"), F.col("spender"), F.col("amount")],
        }[table]
        raw = spark.read.parquet(f"{out}/data/{table}")
        dup = (raw.groupBy("epoch_id", "block_num", *pk).count()
               .filter("count > 1").select("block_num").collect())
        dup_nums = {r.block_num for r in dup}
        got: dict[str, list] = {}
        for r in read_exactly_once(spark, out, table, pk).select("block_id", *cols).collect():
            row = tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r[1:])
            row = tuple(int(v) if type(v).__name__ == "Decimal" else v for v in row)
            got.setdefault(r.block_id, []).append(row)
        got_blocks.update(got)
        for bid in expected_ids | set(got):
            if bid not in expected_ids:
                bad.add(bid)  # orphaned fork or held-back block reached the sink
            elif sorted(got.get(bid, [])) != sorted(inputs.typed[bid][table]):
                bad.add(bid)
            elif int(bid.split(".")[0]) in dup_nums:
                bad.add(bid)
    cursors = spark.read.parquet(f"{out}/cursors").collect()
    last = max(cursors, key=lambda r: (r.block_num, r.epoch_id))
    exp = model.final[-1]
    if (last.block_num, last.block_id, last.cursor) != exp:
        bad.add(exp[1])
    for r in cursors:  # every cursor row names a finalized block
        if r.block_id not in expected_ids:
            bad.add(r.block_id)
    attempted = len(model.final)
    return {
        "attempted": attempted,
        "failed": min(len(bad), attempted),
        "sink_blocks": len(got_blocks & expected_ids),
        "bad_sample": sorted(bad)[:5],
    }


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------


class ProgressLog:
    """StreamingQueryListener collecting each batch's durationMs and
    stateOperators, and the termination of each query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        self.terminated = 0
        self.cond = threading.Condition()
        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                st = p.stateOperators[0] if p.stateOperators else None
                rec = dict(
                    batch=p.batchId, rows=p.numInputRows, ms=dict(p.durationMs),
                    state_rows=st.numRowsTotal if st else 0,
                    state_bytes=st.memoryUsedBytes if st else 0,
                    state_commit_ms=st.commitTimeMs if st else 0,
                )
                with log.cond:
                    log.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cond:
                    log.terminated += 1
                    log.cond.notify_all()

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        with self.cond:
            self.cond.wait_for(lambda: self.terminated >= n, timeout)

    def remove(self, spark) -> None:
        spark.streams.removeListener(self.listener)


# --------------------------------------------------------------------------
# One stream: land, then drain through the CLI
# --------------------------------------------------------------------------


def run_stream(spark, inputs: Inputs, base: str, progress: ProgressLog):
    """Land `inputs` and drain them through the CLI. Returns timings and
    the progress records of this stream's batches."""
    from elric_rs_spark.__main__ import main
    from elric_rs_spark.streaming.source import ReconnectingReader, demux, land_blocks

    landing, out = f"{base}/landing", f"{base}/out"
    os.makedirs(base, exist_ok=True)
    ddl = f"{base}/schema.sql"
    with open(ddl, "w") as fh:
        fh.write(DDL)
    sink_log = io.StringIO()
    with contextlib.redirect_stdout(sink_log):
        if main(["setup", DB_URL, ddl, "--out", out]) != 0:
            raise RuntimeError("setup failed")
    connect, up = upstream(inputs)
    reader = ReconnectingReader(connect, sleep=lambda s: None)
    cpu0 = cpu_s()
    t0 = time.perf_counter()
    landed = land_blocks(spark, demux(reader), landing, batch_size=CHUNK)
    land_s = time.perf_counter() - t0
    n_before = len(progress.batches)
    n_term = progress.terminated
    t1 = time.perf_counter()
    with contextlib.redirect_stdout(sink_log):
        rc = main(["run", DB_URL, "perfbench.spkg", "--landing", landing,
                   "--out", out, "--decode", "json"])
    drain_s = time.perf_counter() - t1
    cpu = cpu_s() - cpu0
    if rc != 0:
        raise RuntimeError(f"run exited {rc}")
    progress.wait_terminated(n_term + 1)
    return dict(
        land_s=land_s, drain_s=drain_s, cpu_s=cpu, landed=landed,
        connects=up["connects"],
        batches=progress.batches[n_before:], out=out, landing=landing,
    )


def stream_workload(env, seed: int, seconds: int, trace: bool, clock) -> dict:
    """Warm-up streams, then independent streams of STREAM_BLOCKS blocks
    (at least 3, as many as BLOCKS_PER_S * seconds fill), each landed,
    drained and checked. work_cpu_s is the median stream's CPU seconds
    over land + drain; setup_s the CPU seconds up to the first measured
    stream. The wall times are in the detail record."""
    import common
    from spans import Instrumentation, Tracer

    n_streams = max(3, round(seconds * BLOCKS_PER_S / STREAM_BLOCKS))
    spark = common.start_spark()
    progress = ProgressLog(spark)
    jvm = common.jvm_pid(spark)
    session_s = clock.now()
    warm = [make_inputs(seed + 1_000_003, FIRST_BLOCKS),
            make_inputs(seed + 1_000_004, STREAM_BLOCKS)]
    reps = [make_inputs(seed * 100 + r, STREAM_BLOCKS) for r in range(n_streams)]
    models = [FinalityModel().feed(i.messages) for i in reps]
    inputs_s = clock.now() - session_s
    # the first batches of a JVM pay worker spawn, state-store and codegen
    # warm-up, which is set-up, not loader cost
    for w, inp in enumerate(warm):
        run_stream(spark, inp, f"{env.data}/warm{w}", progress)
    setup_wall_s, setup_cpu_s = clock.now(), cpu_s()

    runs = [run_stream(spark, inp, f"{env.data}/run{r}", progress)
            for r, inp in enumerate(reps)]
    t_check = time.perf_counter()
    checks = [check_outputs(spark, res["out"], inp, model)
              for res, inp, model in zip(runs, reps, models)]

    work = [res["land_s"] + res["drain_s"] for res in runs]
    cpu = [res["cpu_s"] for res in runs]
    trig = [b["ms"].get("triggerExecution", 0) for res in runs for b in res["batches"]]
    rows_out = sum(len(rows) for inp, model in zip(reps, models)
                   for b in model.final for rows in inp.typed[b[1]].values())
    detail = dict(
        streams=len(reps), blocks_per_stream=STREAM_BLOCKS,
        landed=[res["landed"] for res in runs],
        connects=[res["connects"] for res in runs],
        undos=sum(m.undos for m in models),
        blocks_dropped=sum(m.dropped for m in models),
        finalized=sum(len(m.final) for m in models), typed_rows=rows_out,
        land_s=[res["land_s"] for res in runs],
        drain_s=[res["drain_s"] for res in runs],
        work_s=median(work), cpu_s=cpu, check_s=time.perf_counter() - t_check,
        blocks_per_s=sum(res["landed"] for res in runs) / sum(work),
        rows_per_s=rows_out / sum(work),
        batch_ms=trig, batch_p50_ms=median(trig), batch_samples=len(trig),
        checks=checks, session_s=session_s, inputs_s=inputs_s,
        warm_s=setup_wall_s - session_s - inputs_s, setup_wall_s=setup_wall_s,
    )
    result = dict(
        attempted=sum(c["attempted"] for c in checks),
        failed=sum(c["failed"] for c in checks),
        e2e=dict(setup_s=setup_cpu_s, work_cpu_s=median(cpu)),
        detail=detail,
    )
    if trace:
        # one more stream of the first inputs, traced
        tracer = Tracer(env.run_id)
        ins = Instrumentation(tracer)
        base = f"{env.data}/traced"
        ins.roots = {f"{base}/landing": "source.chunk",
                     f"{base}/out/data": "sink.write.{rest}",
                     f"{base}/out/cursors": "sink.cursor"}
        ins.install_writes()
        ins.install_stream()
        first_job = common.max_job_id(spark) + 1
        try:
            with tracer.span("work"):
                tres = run_stream(spark, reps[0], base, progress)
        finally:
            ins.remove()
        last_job = common.max_job_id(spark)
        tcheck = check_outputs(spark, tres["out"], reps[0], models[0])
        result["attempted"] += tcheck["attempted"]
        result["failed"] += tcheck["failed"]
        detail["traced_check"] = tcheck
        result["layers"] = stream_layers(
            spark, tracer, tres, tcheck, models[0], reps[0], first_job, last_job,
            untraced_work_s=median(work),
        )
        result["layers"].update(process_layers(spark, jvm))
        result["spans"] = tracer.export()
    progress.remove(spark)
    result["spark"] = spark
    return result


def stream_layers(spark, tracer, res, check, model, inputs, first_job, last_job,
                  untraced_work_s) -> dict:
    import common

    b = res["batches"]

    def tot(key):
        return sum(x["ms"].get(key, 0) for x in b)

    wall = res["land_s"] + res["drain_s"]
    spark_t = common.spark_totals(spark, first_job, last_job)
    sink_dir = f"{res['out']}/data"
    write_batch_s = tracer.total("sink.write_batch")
    selfs = {
        "source": res["land_s"],
        "engine": max(tot("triggerExecution") / 1000.0 - write_batch_s, 0.0),
        "finality": tracer.total("finality"),
        "decode": tracer.total("decode"),
        "sink": tracer.total("sink.write.", prefix=True) + tracer.total("sink.cursor"),
        "ops": 0.0, "memo": 0.0,
    }
    layers = {
        "source.land_s": res["land_s"],
        "source.chunks": sum(1 for s in tracer.spans if s["name"] == "source.chunk"),
        "source.files": dir_files(res["landing"]),
        "engine.batches": len(b),
        "engine.jobs_per_batch": spark_t["jobs"] / max(len(b), 1),
        "engine.plan_ms": tot("queryPlanning"),
        "engine.offset_ms": tot("latestOffset") + tot("getBatch"),
        "engine.commit_ms": tot("walCommit") + tot("commitOffsets"),
        "engine.add_batch_ms": tot("addBatch"),
        "finality.ms": selfs["finality"] * 1000.0,
        "finality.state_rows": b[-1]["state_rows"] if b else 0,
        "finality.state_bytes": max((x["state_bytes"] for x in b), default=0),
        "finality.state_commit_ms": sum(x["state_commit_ms"] for x in b),
        "finality.undos": model.undos,
        "finality.blocks_dropped": model.dropped,
        "finality.held_back": len({m["block_num"] for m in inputs.messages
                                   if m["msg_type"] == "new"}) - check["sink_blocks"],
        "decode.ms": selfs["decode"] * 1000.0,
        "decode.rows_out": tracer.counters.get("decode.rows_out", 0),
        "sink.write_ms.transfers": tracer.total("sink.write.transfers") * 1000.0,
        "sink.write_ms.approvals": tracer.total("sink.write.approvals") * 1000.0,
        "sink.cursor_ms": tracer.total("sink.cursor") * 1000.0,
        "sink.rows": sum(
            spark.read.parquet(f"{sink_dir}/{t}").count() for t in PKS),
        "sink.files": dir_files(sink_dir),
        "sink.bytes": dir_bytes(sink_dir),
    }
    layers.update({f"spark.{k}": v for k, v in spark_t.items()})
    layers.update(self_layers(selfs, wall, untraced_work_s))
    return layers


def self_layers(selfs: dict, wall: float, untraced_work_s: float) -> dict:
    out = {f"self.{k}_s": v for k, v in selfs.items()}
    out["trace.wall_s"] = wall
    out["trace.unattributed_s"] = wall - sum(selfs.values())
    out["trace.overhead_s"] = wall - untraced_work_s
    return out


def process_layers(spark, jvm: int) -> dict:
    import resource

    import common

    return {
        "process.jvm_peak_rss_mb": common.peak_rss_mb(jvm),
        "process.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
