"""`ops_sf0.01`: 13 registry queries in one warm JVM on the bundled sf0.01
fixture, each timed from construction through `collect()` of its result.
The list covers every operator module, all seven session-memo builds,
IVF-PQ search, the pinned curation/LSH stages and q_pagerank.

The seed writes a row-order-shuffled copy of the fixture (8,192-row
groups, event timestamps in microseconds) that every query reads; the
values never change, so the expected answers hold for every seed.

Every query is checked on every run, after the timed suite, on the rows
the timed `collect()` returned (no re-execution):
- the result must have no hash-risky output type
  (`tests/oracle_harness.hash_risky_columns`);
- its row count and order-insensitive fingerprint (sorted column names
  plus `oracle_harness.normalize`d rows) must equal EXPECTED. For the
  oracle-backed queries EXPECTED is the DuckDB oracle's answer
  (`registry.ORACLES`) on the fixture, which `python3 perfbench/ops.py`
  recomputes; q_dedup_minhash has no oracle and its entry is the answer
  recorded from Spark.
A query that raises or mismatches is one failed query.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

from common import BENCH_DIR, ROOT

FIXTURE = os.path.join(BENCH_DIR, "fixture")
CORE = [
    "q_agg_tpch1", "q_join_multiway", "q_window_rank", "q_typed_cast",
    "q_graph_triangles", "q_sketch_union", "q_winnow_fingerprint",
    "q_curation_v4", "q_split_leakage_safe", "q_pagerank",
]
ANN_DEDUP = ["q_dedup_minhash", "q_dedup_embed_lsh_portable", "q_sim_ivfpq"]
# query -> (row count, fingerprint of the answer)
EXPECTED = {
    "q_agg_tpch1": (6, "54c721de6481292cfeb2dd9677dc583e570ae1cd25c2c927c645a99252bc11cc"),
    "q_join_multiway": (25, "49221ed1c9985f0546b265bf2ed33dc2312c7740b3b14619efc854997a7bad1b"),
    "q_window_rank": (4492, "265fe9450417ee522a113ff31a89f2c0a8d39552c495eb81ca03522b4f18ade9"),
    "q_typed_cast": (10000, "3416dec1c42c6b30e68bef147c2d12f2eae9f25d10a4f342089a4e1d813f8f6e"),
    "q_graph_triangles": (98, "267df6c57fd8bc912b86fa3ea9309d8a5e7c3f5ef99eb88f8ca0ea12a96ecace"),
    "q_sketch_union": (4, "b26bf00a522b370ce22ab610541514250eee12bb066ad56e2b8f769ca51f0189"),
    "q_winnow_fingerprint": (500, "f585bb910d2924a8a6fdbd16c412fd9beb48f9176f91b20214bb6f7d9abec958"),
    "q_curation_v4": (7, "0f5dc6c6aec83f53414508e4d5c4189504c7e221c88236b747479136b4c800b5"),
    "q_split_leakage_safe": (3, "f8a835b112b96b8df88e01fe98a78b8791a12241447670301092c432b6e95e9f"),
    "q_pagerank": (100, "308676de9bbe2c33f3c287195610b6a91867a16bacfba16ada07374046861c62"),
    "q_dedup_minhash": (25, "c152acedad411301515f3bad55d50da2fc158653a954e52603c8e8bb157dfea9"),
    "q_dedup_embed_lsh_portable": (20, "ddd9269fd99098c9bb1ffb3d6c421ee38513fb2c8652e370c394ac1c3ae77d95"),
    "q_sim_ivfpq": (10, "d0c509b32eb3248f86becdde8d4cf20cad95581ebbcd2cdd99cc8f6077607649"),
}
MODULES = ("aggregates", "joins", "windows", "typed_cast", "text", "dedup",
           "similarity", "graph", "curation")
MEMOS = ("kernel_grams", "portable_pairs", "cc_labels", "kmv_flag_sketch",
         "copurchase_edges", "pivf_celldots", "winnow_sel")
ROW_GROUP = 8192


def shuffled_fixture(seed: int, dst: str) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(FIXTURE)):
        table = pq.read_table(os.path.join(FIXTURE, name))
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        schema = pa.schema([
            pa.field(f.name, pa.timestamp("us", tz=f.type.tz))
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
            for f in table.schema
        ])
        pq.write_table(table.cast(schema, safe=False), os.path.join(dst, name),
                       row_group_size=ROW_GROUP)
    return dst


def warm_up(spark, sf: str) -> None:
    """One small job per operator family (shuffle agg, sort-merge and
    broadcast join, window, tokenize, hash/md5 agg, array HOFs, the
    Arrow/pandas boundary), so JIT and Python worker spawn land here and
    not on whichever timed query first uses them."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    od = spark.read.parquet(f"{sf}/orders.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(50)
    noop(li.join(od, li.l_orderkey == od.o_orderkey).groupBy("l_returnflag")
         .agg(F.sum("l_quantity"), F.avg("o_totalprice")))
    noop(od.withColumn("rn", F.row_number().over(
        Window.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())))
        .filter("rn <= 3"))
    toks = docs.limit(50).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("g"))
    noop(toks.select("doc_id", F.xxhash64("g").alias("xh"), F.md5("g").alias("mh"))
         .groupBy("doc_id").agg(F.min(F.struct("xh", "mh")),
                                F.md5(F.concat_ws("", F.array_sort(F.collect_list("mh"))))))
    m = emb.select("vec_id", F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")).alias("m"))
    a = m.select(F.col("vec_id").alias("ia"), F.col("m").alias("ma"))
    b = m.select(F.col("vec_id").alias("ib"), F.col("m").alias("mb"))
    noop(a.join(b, F.col("ia") < F.col("ib")).select("ia", F.aggregate(
        F.zip_with("ma", "mb", lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, x: acc + x).alias("dot")).groupBy("ia").agg(F.max("dot")))

    def one(batches):
        for pdf in batches:
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "n": pdf["vec_id"] * 0 + 1})

    def grp(pdf):
        return pd.DataFrame({"vec_id": pdf["vec_id"][:1], "n": [len(pdf)]})

    ids = emb.select("vec_id")
    noop(ids.mapInPandas(one, "vec_id long, n long"))
    noop(ids.withColumn("g", F.pmod("vec_id", F.lit(4))).groupBy("g")
         .applyInPandas(grp, "vec_id long, n long"))
    od.limit(10).collect()


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    from oracle_harness import normalize

    return len(rows), hashlib.sha256(repr(normalize(cols, rows)).encode()).hexdigest()


def run_suite(spark, sf: str, tracer) -> dict:
    """Run the suite once, in order. Per query: construct and collect
    times, the answer (columns, rows), and the memo builds it paid."""
    from elric_rs_spark import buildlog, registry

    out = dict(times={}, answers={}, risky={}, builds={}, raised={})
    t_suite = time.perf_counter()
    with tracer.span("suite"):
        for q in CORE + ANN_DEDUP:
            n_builds = len(buildlog.BUILDS)
            t0 = t1 = time.perf_counter()
            try:
                with tracer.span(f"q.{q}"):
                    with tracer.span(f"q.{q}.construct"):
                        df = registry.QUERIES[q](spark, sf)
                    t1 = time.perf_counter()
                    with tracer.span(f"q.{q}.execute"):
                        rows = [tuple(r) for r in df.collect()]
                out["answers"][q] = (df.columns, rows)
                out["risky"][q] = df
            except Exception as exc:
                out["raised"][q] = f"{q}: raised {type(exc).__name__}: {exc}"[:300]
            t2 = time.perf_counter()
            out["times"][q] = (t1 - t0, t2 - t1)
            for b in buildlog.BUILDS[n_builds:]:
                out["builds"][b["name"]] = {"paid_by": q, "sec": b["sec"]}
    out["wall"] = time.perf_counter() - t_suite
    return out


def check(suite: dict) -> dict[str, str]:
    """query -> first problem, for every query of the suite."""
    from oracle_harness import hash_risky_columns

    fails = dict(suite["raised"])
    for q, (cols, rows) in suite["answers"].items():
        risky = hash_risky_columns(suite["risky"][q])
        got = fingerprint(cols, rows)
        if risky:
            fails[q] = f"{q}: hash-risky output types {risky}"
        elif got != EXPECTED[q]:
            fails[q] = f"{q}: rows/fingerprint {got} != {EXPECTED[q]}"
    return fails


def ops_workload(env, seed: int, seconds: int, trace: bool, clock) -> dict:
    import common
    from spans import Instrumentation, Tracer

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from elric_rs_spark import registry

    registry.load_all()
    spark = common.start_spark()
    jvm = common.jvm_pid(spark)
    sf = shuffled_fixture(seed, os.path.join(env.data, "sf0.01"))
    if trace:
        # memos are keyed by (session, sf_dir): the traced pass reads its
        # own copy, so it builds them again like the untraced pass
        traced_sf = shutil.copytree(sf, os.path.join(env.data, "sf0.01-traced"))
    warm_up(spark, sf)
    setup_wall_s, setup_cpu_s = clock.now(), common.cpu_s()

    suite = run_suite(spark, sf, Tracer(env.run_id))
    work_cpu_s = common.cpu_s() - setup_cpu_s
    fails = check(suite)
    times = suite["times"]
    total = {q: c + e for q, (c, e) in times.items()}
    core_s = sum(total[q] for q in CORE)
    ann_s = sum(total[q] for q in ANN_DEDUP)
    detail = dict(
        suite_s=core_s + ann_s, core_s=core_s, ann_dedup_s=ann_s,
        setup_wall_s=setup_wall_s,
        queries={q: [round(c, 4), round(e, 4)] for q, (c, e) in times.items()},
        builds=suite["builds"], check_failures=sorted(fails.values()),
    )
    result = dict(
        attempted=len(times), failed=len(fails),
        e2e=dict(setup_s=setup_cpu_s, work_cpu_s=work_cpu_s),
        detail=detail, spark=spark,
    )
    if trace:
        tracer = Tracer(env.run_id)
        ins = Instrumentation(tracer)
        ins.install_memo()
        first_job = common.max_job_id(spark) + 1
        try:
            traced = run_suite(spark, traced_sf, tracer)
        finally:
            ins.remove()
        last_job = common.max_job_id(spark)
        tfails = check(traced)
        result["failed"] = len(set(fails) | set(tfails))
        detail["check_failures"] = sorted(set(fails.values()) | set(tfails.values()))
        result["layers"] = ops_layers(spark, traced, first_job, last_job,
                                      untraced_wall=suite["wall"])
        from streams import process_layers

        result["layers"].update(process_layers(spark, jvm))
        result["spans"] = tracer.export()
    return result


def ops_layers(spark, suite, first_job, last_job, untraced_wall) -> dict:
    import common
    from elric_rs_spark import registry
    from streams import self_layers

    times, builds = suite["times"], suite["builds"]
    layers = {f"ops.{m}_s": 0.0 for m in MODULES}
    for q, (c, e) in times.items():
        mod = registry.QUERIES[q].__module__.rsplit(".", 1)[-1]
        layers[f"ops.{mod}_s"] += c + e
        layers[f"q.{q}.construct_s"] = c
        layers[f"q.{q}.execute_s"] = e
    memo_s = 0.0
    for m in MEMOS:
        sec = sum(b["sec"] for name, b in builds.items()
                  if name == m or name.startswith(m + "_"))
        layers[f"memo.{m}.build_s"] = sec
        memo_s += sec
    layers["memo.builds"] = len(builds)
    layers.update({f"spark.{k}": v for k, v in
                   common.spark_totals(spark, first_job, last_job).items()})
    q_s = sum(c + e for c, e in times.values())
    selfs = {"source": 0.0, "engine": 0.0, "finality": 0.0, "decode": 0.0,
             "sink": 0.0, "ops": q_s - memo_s, "memo": memo_s}
    layers.update(self_layers(selfs, suite["wall"], untraced_wall))
    return layers


if __name__ == "__main__":
    # print the DuckDB oracle's EXPECTED entries for the bundled fixture
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from oracle_harness import run_oracle

    from elric_rs_spark import registry

    registry.load_all()
    for q in CORE + ANN_DEDUP:
        if q in registry.ORACLES:
            print(f'    "{q}": {fingerprint(*run_oracle(registry.ORACLES[q], FIXTURE))},')
