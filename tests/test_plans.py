"""Plan-quality gate: every registered query must produce the physical
plan we'd accept on a 1000-executor cluster, not just a correct answer.

Invariants held here:
- NO row-at-a-time Python (BatchEvalPython) anywhere. Arrow-batched nodes
  (mapInPandas / applyInPandas) are the sanctioned slow path and only
  allowed in the queries built on them.
- NO CartesianProduct: deliberate one-row cross joins must broadcast.
- Small-dimension joins broadcast (q_join_broadcast's customer side).
- Filters and projections reach the parquet scan (PushedFilters /
  ReadSchema pruning) for the representative scan-heavy queries.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from elric_rs_spark.plans.inspect import (
    count_shuffles,
    physical_plan,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
    uses_cartesian,
    uses_row_python,
    uses_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entrymod.queries()

# Queries whose semantics are Arrow-batched Python by design
PANDAS_QUERIES = {
    "q_dedup_embed",  # r10: within-block exact cosine as tiled BLAS GEMM
    "q_dedup_semantic",  # r11: assignment + per-cell pair dots as exact GEMM
    "q_dedup_simhash",  # r11: bit-vote signatures as one uint64 batch kernel
    "q_sim_lsh",  # r11: plane-dot signatures as one GEMM batch kernel
    "q_dedup_embed_lsh",  # r11: same banding kernel via lsh_candidate_pairs
    "q_udf_pandas",
    "q_multimodal",
    "q_multimodal_frames",
    "q_multimodal_audio",
    "q_multimodal_image",
    "q_multimodal_resize",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_row_python_and_no_cartesian(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert not uses_row_python(df), f"{name}: BatchEvalPython in plan"
    assert not uses_cartesian(df), f"{name}: CartesianProduct in plan"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - PANDAS_QUERIES))
def test_jvm_only(spark, name):
    """Everything except the declared Pandas-UDF surface stays fully
    JVM-side — no Python eval nodes of any kind."""
    plan = physical_plan(QUERIES[name](spark, SF_DIR))
    for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"{name}: unexpected {node}"


def test_broadcast_join_small_dimension(spark):
    df = QUERIES["q_join_broadcast"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert "SortMergeJoin" not in physical_plan(df)


def test_multiway_join_broadcasts_small_dims(spark):
    """The 5-table TPC-H-shaped join: nation/region (tiny dims) must come
    in as broadcasts, never shuffled sort-merge."""
    plan = physical_plan(QUERIES["q_join_multiway"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    """q_agg_tpch1 filters on l_shipdate: the predicate must appear in the
    parquet scan's PushedFilters, not only as a post-scan Filter node."""
    df = QUERIES["q_agg_tpch1"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), pushed


def test_column_pruning_reaches_scan(spark):
    """q_topk projects 3 columns of orders; the scan must not read the
    full table width."""
    schemas = read_schemas(QUERIES["q_topk"](spark, SF_DIR))
    assert schemas, "no ReadSchema in formatted plan"
    for s in schemas:
        n_cols = s.count(":")
        assert n_cols <= 5, f"scan reads too many columns: {s}"


def test_typed_cast_whole_stage_codegen(spark):
    """The T5 cast pipeline must be one codegen span over the scan —
    the 100 TB ingest hot path."""
    assert uses_whole_stage_codegen(QUERIES["q_typed_cast"](spark, SF_DIR))


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


@pytest.mark.parametrize("name", ["q_dedup_minhash"])
def test_shared_stage_reuses_exchange_not_persist(spark, name):
    """The expensive multi-consumer stages (gram pipeline) must be
    shared via ReusedExchange, not .persist(): caching pins the plan and
    disables AQE inside it (measured 6.7s vs 2.4s for q_sim_lsh on a
    vanilla 200-shuffle-partition session — BASELINE.md round 2).
    q_dedup_embed_lsh is exempt from the reuse assertion: its branches
    prune different columns below the exchange (only a cheap scan+cast
    is recomputed), but it must still not cache."""
    df = QUERIES[name](spark, SF_DIR)
    df.collect()  # AQE finalizes (and reveals) exchange reuse at execution
    plan = physical_plan(df)
    assert "ReusedExchange" in plan, f"{name}: shared stage not reused"
    assert "InMemoryTableScan" not in plan, f"{name}: unexpected cached plan"


def test_sim_lsh_pins_clusters_not_cache(spark):
    """r11 redesign (final-plan audit): q_sim_lsh's cluster table is an
    eager DISK_ONLY localCheckpoint — the finalized plan proved that the
    previous ReusedExchange sharing was optimizer-defeated (filter
    pushdown + project collapse split the subtrees) and the collect_set
    aggregate re-ran per branch. The gate now asserts the pin design:
    downstream branches read the materialized rows (Scan ExistingRDD),
    and nothing is .persist()ed (no InMemoryTableScan, which would pin
    the plan and disable AQE inside it)."""
    df = QUERIES["q_sim_lsh"](spark, SF_DIR)
    df.collect()
    plan = physical_plan(df)
    assert "ExistingRDD" in plan, "clusters pin (localCheckpoint) missing"
    assert "InMemoryTableScan" not in plan, "unexpected cached plan"


@pytest.mark.parametrize(
    "name", ["q_dedup_minhash", "q_sim_lsh", "q_dedup_embed_lsh"]
)
def test_no_cached_plans(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    assert "InMemoryTableScan" not in physical_plan(df), f"{name}: cached plan"


def test_lsh_bucket_sizes_bounded(spark):
    """The round-1 scale-killer gate (VERDICT r01 #3): q_sim_lsh's
    in-bucket pairing is quadratic in bucket size, so buckets must stay
    cluster-sized — far below corpus size. Checked on the banding
    q_sim_lsh runs (_lsh_banded at the corpus-adaptive PDLSH width, as
    lsh_candidate_pairs and lsh_candidate_cosines call it): a bucket
    approaching n means the banding degenerated to all-pairs."""
    from pyspark.sql import functions as F

    from elric_rs_spark.functions.vector import as_double
    from elric_rs_spark.operators.dedup import _pdlsh_bits_col
    from elric_rs_spark.operators.similarity import _lsh_banded
    from elric_rs_spark.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    n = e.count()
    nb = e.agg(_pdlsh_bits_col().alias("bits"))
    sizes = _lsh_banded(spark, e, "vec_id", "v", nb, carry=None).groupBy("t", "key").count()
    max_bucket = sizes.agg(F.max("count")).collect()[0][0]
    assert max_bucket <= max(8, n // 10), (
        f"LSH bucket of {max_bucket} rows vs corpus {n} — quadratic blowup"
    )


class TestExchangeBudgets:
    """Shuffle-count pins for the second-wave operators: the property that
    makes each scale-safe is a BOUNDED number of exchanges — a regression
    that adds a shuffle (lost partitioning reuse, lost broadcast) fails
    here even though results stay correct."""

    @pytest.mark.parametrize(
        "name,max_exchanges",
        [
            ("q_latest_per_key", 1),   # one keyed aggregate, no window sort
            ("q_histogram", 1),        # scan -> partial agg -> one shuffle
            ("q_curation_pipeline", 2),  # dedup groupBy + report groupBy
            ("q_join_asof", 2),        # purchase pre-agg + one window shuffle
            ("q_sample_hash", 1),      # pushed filter + one report groupBy
            # round-3 additions: window partitioning reused by the report
            # aggregate (no second wide shuffle)
            ("q_doclen_trim", 1),
            ("q_domain_cap", 1),
            ("q_agg_corr", 1),         # integer moments: one keyed aggregate
            ("q_rollup_multigrain", 1),  # one Expand + one shuffle, 3 grains
            ("q_min_cost_supplier", 2),  # broadcast affinity join + extremum agg
            ("q_counter_rate", 1),     # lag window partitioning reused by report
            # round-4 second wave
            ("q_c4_filter", 0),        # row-local rules, pure scan stage
            ("q_embed_norm", 1),       # one vec_id aggregate, no joins
            ("q_importance_weight", 4),  # bucket agg + one-row total + bcast
            ("q_passage_dedup", 3),    # passage-freq groupBy + join-back + rollup
            ("q_ngram_novelty", 3),    # gram-df groupBy + join-back + rollup
            ("q_substring_dedup", 3),  # window-freq groupBy + join-back + sweep
        ],
    )
    def test_exchange_budget(self, spark, name, max_exchanges):
        plan = physical_plan(QUERIES[name](spark, SF_DIR))
        # ReusedExchange re-reads shuffle files; only count real shuffles
        n = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n <= max_exchanges, f"{name}: {n} exchanges (max {max_exchanges})\n{plan}"

    def test_sample_filter_pushed_to_scan(self, spark):
        """The deterministic-sample predicate is key arithmetic only, so
        it must reach the parquet scan as a pushed/partition-local filter
        (no separate filter stage after a full materialization)."""
        df = QUERIES["q_sample_hash"](spark, SF_DIR)
        plan = physical_plan(df)
        assert "Filter" in plan  # evaluated scan-side, pre-aggregate

    def test_range_join_is_equi_not_theta(self, spark):
        """q_join_range must plan as an equi-join on the bucket key (hash
        or sort-merge) — a theta-only join (BroadcastNestedLoop /
        Cartesian) means the binning regressed."""
        plan = physical_plan(QUERIES["q_join_range"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_disjunctive_predicate_factored_to_scan(self, spark):
        """TPC-H Q19 shape: Catalyst must factor the single-side
        conjuncts out of the three-branch OR so the lineitem scan
        receives an l_quantity filter (PushedFilters) instead of
        scanning every row and filtering after the join."""
        plan = physical_plan(QUERIES["q_disjunctive_pred"](spark, SF_DIR))
        scans = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and "lineitem.parquet" in ln
        ]
        assert scans, plan
        assert any(
            "PushedFilters: [" in s
            and "l_quantity" in s.split("PushedFilters: [", 1)[1]
            for s in scans
        ), plan

    def test_bucketed_join_has_no_exchange(self, spark):
        """Bucketed co-located join (plans/bucketing.py): with lineitem
        and orders both bucketBy(8, orderkey), the repeated-run join must
        plan as SortMergeJoin over two `Bucketed: true` scans with NO
        Exchange below the join — the write-once shuffle replaces the
        every-run shuffle, which is the layout decision that matters most
        for repeated fact-fact joins at 100 TB. Only the final
        per-priority rollup may shuffle."""
        from elric_rs_spark.plans.bucketing import bucketed_tables, colocated_join

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            li_t, o_t = bucketed_tables(spark, SF_DIR, prefix="bkt_test")
            df = colocated_join(spark, li_t, o_t)
            plan = physical_plan(df)
            assert "SortMergeJoin" in plan, plan
            assert plan.count("Bucketed: true") == 2, plan
            # exactly one exchange: the aggregate's; none feeds the join
            assert plan.count("Exchange") == 1, plan
            join_region = plan[plan.index("SortMergeJoin"):]
            assert "Exchange" not in join_region, plan
            # correctness: identical to the unbucketed join
            from pyspark.sql import functions as F

            from elric_rs_spark.tables import load_table

            li = load_table(spark, SF_DIR, "lineitem")
            o = load_table(spark, SF_DIR, "orders")
            got = {
                (r.o_orderpriority, r.n_lines, r.revenue_cents)
                for r in df.collect()
            }
            cents = F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
            ref = {
                (r.o_orderpriority, r.n_lines, r.revenue_cents)
                for r in li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_lines"),
                    F.sum(cents).alias("revenue_cents"),
                )
                .collect()
            }
            assert got == ref
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bkt_test_lineitem")
            spark.sql("DROP TABLE IF EXISTS bkt_test_orders")

    def test_pack_shards_doc_window_is_keyed(self, spark):
        """The doc-level cumsum must be PARTITIONED BY bucket (parallel);
        only the bucket-totals offset table — one row per bucket — may
        pay a SinglePartition exchange. The round-2 form ran the cumsum
        as one global window = a single-partition sort of every document
        (VERDICT r02 What's-wrong #3)."""
        import re

        plan = physical_plan(QUERIES["q_pack_shards"](spark, SF_DIR))
        # keyed doc-level window: windowspecdefinition lists bucket as a
        # partition column ahead of the doc_id ordering
        assert re.search(r"\], \[bucket#\d+L?\], \[doc_id#\d+L? ASC", plan), (
            f"doc-level cumsum window lost its bucket partition key\n{plan}"
        )
        # exactly one SinglePartition exchange, and it must sit above the
        # per-bucket totals aggregate, not above raw document rows
        singles = plan.count("Exchange SinglePartition")
        assert singles == 1, f"{singles} SinglePartition exchanges\n{plan}"
        tail = plan[plan.index("Exchange SinglePartition"):]
        assert "HashAggregate(keys=[bucket" in tail, (
            f"SinglePartition exchange feeds raw rows, not bucket totals\n{plan}"
        )


class TestTpchRound4Plans:
    """Plan gates for the round-4 TPC-H shapes (Q4/Q6/Q7/Q8/Q10/Q17/Q20/
    Q21 adapted to the fixture schema)."""

    def test_revenue_forecast_pure_scan(self, spark):
        """Q6 is the canonical pushdown benchmark: all three range
        predicates must reach the parquet scan and the scan must read
        only the 4 referenced columns; the whole query is one partial
        agg + a single-row merge (exactly one shuffle)."""
        df = QUERIES["q_revenue_forecast"](spark, SF_DIR)
        pushed = " ".join(pushed_filters(df))
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pushed, f"{col} not pushed: {pushed}"
        for s in read_schemas(df):
            assert s.count(":") <= 4, f"scan too wide: {s}"
        assert count_shuffles(df) == 1, physical_plan(df)

    @pytest.mark.parametrize(
        "name,max_shuffles",
        [
            ("q_priority_waiting", 2),   # semi join + 5-group count
            ("q_volume_shipping", 3),    # li⋈o SMJ (2) + group agg
            ("q_market_share", 3),       # li⋈o SMJ (2) + year agg
            ("q_returned_items", 2),     # per-cust agg (+ o shuffle at scale)
            ("q_small_qty_revenue", 2),  # partkey agg + join-back
            ("q_excess_supplier", 2),    # suppkey agg (+1 headroom)
            ("q_waiting_suppliers", 5),  # (o,s) agg → o rollup → join → s agg
            ("q_url_dedup", 1),          # row-local normalize + one groupBy
        ],
    )
    def test_shuffle_budget(self, spark, name, max_shuffles):
        """True shuffle count (hash/single/range partitioning exchanges,
        broadcasts excluded) stays bounded — the property that holds at
        1000 executors. The first shuffle in each is map-side combined
        (partial aggregation), so the wire carries collapsed rows."""
        df = QUERIES[name](spark, SF_DIR)
        n = count_shuffles(df)
        assert n <= max_shuffles, f"{name}: {n} shuffles\n{physical_plan(df)}"

    def test_returned_items_topk_not_global_sort(self, spark):
        """Q10's top-20 must plan as TakeOrderedAndProject, never a
        global Sort of the aggregate output."""
        plan = physical_plan(QUERIES["q_returned_items"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, plan

    def test_market_share_dims_broadcast(self, spark):
        """Q8's part/supplier/nation/region sides all broadcast — the
        only SMJ is the lineitem⋈orders fact-fact join."""
        plan = physical_plan(QUERIES["q_market_share"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert plan.count("SortMergeJoin") <= 1, plan


class TestCurationRound4Plans:
    def test_pii_scrub_zero_shuffle(self, spark):
        """PII scrub is pure row-local regex projection — zero shuffles,
        no Python eval; at 100 TB it pipelines with the scan."""
        df = QUERIES["q_pii_scrub"](spark, SF_DIR)
        plan = physical_plan(df)
        assert count_shuffles(df) == 0, plan
        assert "BatchEvalPython" not in plan

    def test_lm_score_shuffle_budget(self, spark):
        """Unigram LM scoring: vocab build (token shuffle) + total count
        + per-doc rollup; the surprisal table comes back as a broadcast,
        never a corpus re-shuffle."""
        df = QUERIES["q_lm_score"](spark, SF_DIR)
        plan = physical_plan(df)
        assert count_shuffles(df) <= 3, plan
        assert plan.count("BroadcastExchange") >= 1, plan

    def test_sim_recall_no_corpus_self_join(self, spark):
        """q_sim_recall's ground truth is a broadcast of the FIXED query
        set against the corpus — never a corpus-x-corpus join; candidates
        come from the band join against the Q-sized broadcast side."""
        plan = physical_plan(QUERIES["q_sim_recall"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastExchange") >= 2, plan

    def test_interval_join_is_equi_not_theta(self, spark):
        """q_join_interval must plan as an equi-join on (type, bucket)
        with the overlap predicate inside — a theta-only join
        (BroadcastNestedLoop / Cartesian) means the binning regressed
        to the O(n²) form the oracle runs."""
        plan = physical_plan(QUERIES["q_join_interval"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# Each session memo (buildlog.session_memo) and the queries that share it.
# One build must serve every consumer per (session, sf_dir): the shared
# stage is each family's dominant cost, and before the memos every
# consumer (and often every plan branch) re-ran it.
MEMO_CONSUMERS = {
    "copurchase_edges": ("q_pagerank", "q_graph_triangles", "q_graph_labelprop"),
    "portable_pairs": (
        "q_dedup_minhash_portable",
        "q_dedup_clusters_portable",
        "q_dedup_cross_source",
    ),
    "pivf_celldots": ("q_sim_ivf_portable", "q_sim_ivf_curve", "q_sim_ivfpq"),
    "kmv_flag_sketch": (
        "q_agg_approx_portable",
        "q_sketch_union",
        "q_sketch_intersect",
    ),
    "kernel_grams": ("q_dedup_minhash", "q_dedup_clusters"),
    "winnow_sel": ("q_winnow_fingerprint", "q_dedup_winnow"),
    "cc_labels_portable": ("q_dedup_clusters_portable", "q_split_leakage_safe"),
    "cc_labels_kernel": ("q_dedup_clusters", "q_curation_full"),
}


@pytest.mark.parametrize("memo", sorted(MEMO_CONSUMERS))
def test_session_memo_single_build(spark, memo):
    from elric_rs_spark import buildlog

    buildlog.MEMO.pop((spark.sparkContext.applicationId, SF_DIR, memo), None)
    n0 = len(buildlog.BUILDS)
    for name in MEMO_CONSUMERS[memo]:
        QUERIES[name](spark, SF_DIR).collect()
    assert [b["name"] for b in buildlog.BUILDS[n0:]].count(memo) == 1
    # consumers read the pinned table, not the stage that built it: no
    # lineitem scan behind the edge table, no md5 signature pipeline
    # behind the pair set
    if memo == "copurchase_edges":
        plan = physical_plan(QUERIES["q_graph_triangles"](spark, SF_DIR))
        assert "lineitem" not in plan, plan
    if memo == "portable_pairs":
        plan = physical_plan(QUERIES["q_dedup_minhash_portable"](spark, SF_DIR))
        assert "md5" not in plan.lower(), plan


# Runs in its own driver: one JVM holds one SparkContext, and stopping
# the shared test session would strand every later test.
_MEMO_LIFETIME_SCRIPT = """
import os, sys
from elric_rs_spark import buildlog
from elric_rs_spark.operators import graph
from elric_rs_spark.session import get_spark

sf = sys.argv[1]
first_spark = get_spark("memo_lifetime_1", cpus="2")
first = graph.copurchase_raw(first_spark, sf)
table_dir = os.path.dirname(first.inputFiles()[0].removeprefix("file://"))
assert os.path.isdir(table_dir), table_dir
first_spark.stop()
assert not os.path.exists(table_dir), table_dir
second_spark = get_spark("memo_lifetime_2", cpus="2")
second = graph.copurchase_raw(second_spark, sf)
assert second is not first
assert [b["name"] for b in buildlog.BUILDS] == ["copurchase_edges"] * 2
assert {k[0] for k in buildlog.MEMO} == {second_spark.sparkContext.applicationId}
assert second.count() > 0
second_spark.stop()
"""


def test_session_memo_dies_with_its_session():
    """The co-purchase table is deleted by spark.stop(), and a new
    session rebuilds instead of reusing the dead session's DataFrame."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH", "")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _MEMO_LIFETIME_SCRIPT, SF_DIR],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


class TestPin:
    """`buildlog.pin` is the one way to pin a stage: an eager DISK_ONLY
    local checkpoint, or a reliable checkpoint when the app has a
    checkpoint dir."""

    CC_EDGES = [(1, 2), (2, 3), (4, 5), (6, 6), (7, 8), (8, 9), (9, 7), (10, 11)]

    def test_no_other_checkpoint_call(self):
        """No `.localCheckpoint(`/`.checkpoint(` call and no StorageLevel
        import outside `buildlog.pin` (comments and docstrings are not
        code, so the AST never sees them)."""
        import ast
        import pathlib

        pkg = pathlib.Path(__file__).resolve().parent.parent / "elric_rs_spark"
        calls, imports = [], []
        for path in sorted(pkg.rglob("*.py")):
            tree = ast.parse(path.read_text())
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef):
                    for node in ast.walk(fn):
                        owner.setdefault(id(node), fn.name)
            rel = str(path.relative_to(pkg))
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                ):
                    calls.append((rel, owner.get(id(node)), node.func.attr))
                if isinstance(node, (ast.Import, ast.ImportFrom)) and (
                    "storagelevel" in ast.unparse(node).lower()
                ):
                    imports.append(rel)
        assert sorted(calls) == [
            ("buildlog.py", "pin", "checkpoint"),
            ("buildlog.py", "pin", "localCheckpoint"),
        ]
        assert [
            r for r in imports if r.startswith(("operators", "streaming"))
        ] == []

    def test_local_pin_is_one_job_on_disk(self, spark):
        from elric_rs_spark.buildlog import pin
        from tests.test_streaming import _max_job_id

        assert spark.sparkContext.getCheckpointDir() is None
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        # no shuffle: AQE would run a stage's map side as a job of its own
        df = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k", "id")
        jobs = _max_job_id(spark)
        pinned = pin(df)
        assert _max_job_id(spark) - jobs == 1
        rdds = jsc.getPersistentRDDs()
        levels = [rdds.get(i).getStorageLevel() for i in set(rdds.keySet()) - before]
        assert [(lv.useDisk(), lv.useMemory(), lv.deserialized()) for lv in levels] == [
            (True, False, False)
        ]
        assert sorted(pinned.collect()) == sorted(df.collect())
        assert "ExistingRDD" in physical_plan(pinned)

    def test_reliable_pins_give_the_same_rows(self, spark, tmp_path):
        """With `spark.checkpoint.dir` set, the pins are reliable
        checkpoints (files under the dir) and the answers are those of
        local mode."""
        import json
        import os
        import subprocess
        import sys

        from elric_rs_spark.operators.dedup import connected_components

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ckdir = tmp_path / "checkpoints"
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        )
        env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.checkpoint.dir={ckdir} pyspark-shell"
        proc = subprocess.run(
            [sys.executable, "-c", _RELIABLE_PIN_SCRIPT, SF_DIR, json.dumps(self.CC_EDGES)],
            cwd=root,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        got = json.loads(proc.stdout.splitlines()[-1])
        assert got["files"] > 0
        edges = spark.createDataFrame(self.CC_EDGES, "u long, v long")
        assert got["cc"] == _rows(connected_components(edges))
        assert got["split"] == _rows(QUERIES["q_split_leakage_safe"](spark, SF_DIR))


def _rows(df) -> list:
    import json

    return json.loads(json.dumps(sorted(map(list, df.collect())), default=str))


_RELIABLE_PIN_SCRIPT = """
import json, os, sys
from elric_rs_spark.operators.dedup import connected_components
from elric_rs_spark.session import get_spark
from tests.test_plans import QUERIES, _rows

sf, edges = sys.argv[1], json.loads(sys.argv[2])
spark = get_spark("pin_reliable", cpus="2")
ckdir = spark.sparkContext.getCheckpointDir()
assert ckdir, "spark.checkpoint.dir did not set the checkpoint dir"
out = {
    "cc": _rows(connected_components(spark.createDataFrame(edges, "u long, v long"))),
    "split": _rows(QUERIES["q_split_leakage_safe"](spark, sf)),
}
root = ckdir.removeprefix("file:")
out["files"] = sum(len(names) for _, _, names in os.walk(root))
spark.stop()
print(json.dumps(out))
"""


class TestKmvTwoLevelPlan:
    """The KMV sketch family's bottom-K BUILD must be the salted
    two-level shape (VERDICT r06 #2): the corpus-sized exchange
    partitions on (key, kmv_salt) — |key| x KMV_SALTS parallel groups —
    with a map-side WindowGroupLimit capping every input partition at K
    rows BEFORE it ships; only the sketch-sized merge window may
    partition on the low-cardinality key alone. A regression back to
    Window.partitionBy(<3-value key>) over the distinct-hash set fails
    the last-exchange assert: that shape sorts the corpus on 3 tasks at
    100 TB."""

    def test_corpus_exchange_is_salted(self, spark):
        # r11: the build is shared via aggregates.kmv_flag_sketch_for
        # (one salted corpus pass per session — the celldots/pair-build
        # treatment), so the salted-shape invariants are asserted on
        # the BUILD plan itself; test_session_memo_single_build above
        # pins that every family member consumes that one build.
        from elric_rs_spark.operators import aggregates

        name = "kmv_flag_sketch_plan"
        plan = physical_plan(aggregates.kmv_flag_sketch_plan(spark, SF_DIR))
        lines = plan.splitlines()
        assert "kmv_salt" in plan, f"{name}: salted local bottom-K missing"
        # plans print top-down (root first), so DEEPER = LARGER index.
        # Exchanges on the low-cardinality key ALONE (one partition
        # column — the 3-task corpus-sort shape) are only legal ABOVE
        # the salted exchange, where they consume the K x S merge set;
        # the distinct() exchange on (key, h) is fine (uniform on h).
        def n_part_cols(ln: str) -> int:
            """Count TOP-LEVEL args of hashpartitioning(...) with a
            balanced-paren split, minus 1 for the trailing numPartitions
            arg. Naive comma counting miscounts any partition expression
            containing a nested call (extra commas/parens) and would
            silently skip the corpus-exchange assert (ADVICE r07)."""
            inner = ln.split("hashpartitioning(", 1)[1]
            depth_p, n_args, saw_any = 0, 1, False
            for ch in inner:
                if ch == "(":
                    depth_p += 1
                elif ch == ")":
                    if depth_p == 0:
                        break
                    depth_p -= 1
                elif ch == "," and depth_p == 0:
                    n_args += 1
                elif not ch.isspace():
                    saw_any = True
            assert saw_any, f"empty hashpartitioning arg list: {ln}"
            return n_args - 1  # last top-level arg is numPartitions

        def depth(ln: str) -> int:
            for marker in ("+- ", ":- "):
                if marker in ln:
                    return ln.index(marker)
            return -1  # root line

        assert any(
            "Exchange hashpartitioning" in ln and "kmv_salt" in ln
            for ln in lines
        ), f"{name}: no salted (key, kmv_salt) exchange"
        # every key-only single-column exchange whose subtree reaches a
        # parquet scan must pass through the salted build on the way —
        # i.e. it consumes the K x S merge set, never the raw corpus
        for i, ln in enumerate(lines):
            if (
                "Exchange hashpartitioning" not in ln
                or "kmv_salt" in ln
                or n_part_cols(ln) != 1
            ):
                continue
            d = depth(ln)
            subtree = []
            for nxt in lines[i + 1 :]:
                nd = depth(nxt)
                if 0 <= nd <= d:
                    break
                subtree.append(nxt)
            sub = "\n".join(subtree)
            if "Scan parquet" in sub or "FileScan" in sub:
                assert "kmv_salt" in sub, (
                    f"{name}: key-only exchange consumes the corpus "
                    "without a salted bottom-K in between:\n" + ln
                )
        # map-side cap: a Partial WindowGroupLimit on the salted key set
        assert any(
            "WindowGroupLimit" in ln and "kmv_salt" in ln and "Partial" in ln
            for ln in lines
        ), f"{name}: no map-side bottom-K cap before the salted exchange"

    def test_winnow_sel_one_exchange_build(self, spark):
        """The combined (doc_id, fp, n_grams) build computes all three
        window passes plus the doc-constant n_grams count inside ONE
        doc_id exchange over ONE documents scan — attaching n_grams
        must not add a shuffle or a second chain."""
        from elric_rs_spark.operators.text import winnow_sel_plan

        df = winnow_sel_plan(spark, SF_DIR)
        plan = physical_plan(df)
        assert plan.count("Scan parquet") == 1
        # one doc_id exchange for the window chain + at most one for
        # the distinct's partial/final aggregate pair
        assert count_shuffles(df) <= 2


class TestNoCorpusBroadcast:
    """VERDICT r9 #3 gate: a FORCED F.broadcast of a per-vector/per-doc
    table is a scale cliff — fine at sf30 (~10 MB) but ~1 GB+ at 60M+
    rows, with no AQE escape hatch because the hint overrides
    statistics. With autoBroadcastJoinThreshold=-1 every remaining
    BroadcastExchange in the initial plan is hint-forced, so the gate
    is exact: none may carry a corpus id column (vec_id/doc_id). The
    embed-dedup family is pinned because that's where the round-9
    cliff lived (the deleted norms broadcast, dedup.py verify stage)."""

    FAMILY = [
        "q_dedup_embed_lsh_portable",
        "q_dedup_embed_lsh",
        "q_sim_lsh",
        "q_dedup_semantic",
        "q_dedup_cross_source",
        "q_curation_full",
    ]

    @pytest.mark.parametrize("name", FAMILY)
    def test_forced_broadcasts_carry_no_corpus_ids(self, spark, name):
        from elric_rs_spark.plans.inspect import broadcast_exchange_inputs

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = QUERIES[name](spark, SF_DIR)
            bad = [
                cols
                for cols in broadcast_exchange_inputs(df)
                if any(c in ("vec_id", "doc_id", "vec_a", "vec_b", "doc_a", "doc_b") for c in cols)
            ]
            assert not bad, (
                f"{name}: hint-forced broadcast of a corpus-keyed table "
                f"(inputs {bad}) — a 100 TB plan cliff; compute the value "
                "inline or drop the hint and let AQE decide"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestPrefoldedNormIdentity:
    """r11 verify-stage optimization: the LSH verify joins carry a
    per-VECTOR prefolded squared norm (nsq) instead of re-folding
    norm_l2 twice per candidate PAIR. The rewrite is only values-neutral
    if sqrt(aggregate(v, 0.0, s+x*x)) is bit-identical to norm_l2(v) —
    same fold, same order, same sqrt — which this pins down on floats
    spanning sign/magnitude/length variety (incl. a float32-cast array,
    the embeddings source type)."""

    def test_sqrt_of_prefolded_nsq_equals_norm_l2(self, spark):
        from pyspark.sql import functions as F

        from elric_rs_spark.functions.vector import norm_l2

        import numpy as np

        data = [
            ([0.1, -0.2, 0.30000001, -4.0e-5, 123.456] * 13,),
            ([1.0],),
            ([-1e-30, 1e30, -1e30, 1e-30],),
            # float32-cast values (the embeddings source type): round-trip
            # through np.float32 so the doubles carry float32 rounding.
            ([float(np.float32(f)) for f in [0.1, -0.2, 123.456, 3.0e-5]],),
        ]
        df = spark.createDataFrame(data, "v array<double>")
        nsq = F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x)
        out = df.select(
            norm_l2(F.col("v")).alias("direct"),
            F.sqrt(nsq).alias("prefolded"),
        ).collect()
        for row in out:
            # bit-identical, not approximately equal
            assert row.direct == row.prefolded or (
                row.direct != row.direct and row.prefolded != row.prefolded
            )


class TestAssocRulesBitmaskShape:
    """r11 sf10 decade catch: the collect_set basket build degenerated
    into ObjectHashAggregate's sort-based fallback at high group
    cardinality (85-108 s at sf10 for the build alone). The bitmask
    rework keeps the corpus aggregate a plain codegen hash aggregate;
    this gate pins that no object aggregation can sneak back into the
    plan."""

    def test_no_object_hash_aggregate(self, spark):
        from elric_rs_spark.plans.inspect import has_node

        df = QUERIES["q_assoc_rules"](spark, SF_DIR)
        assert not has_node(df, "ObjectHashAggregate"), (
            "q_assoc_rules plan contains ObjectHashAggregate — the "
            "collect-style aggregation hits the sort-based fallback at "
            "scale (measured 18x/decade at sf10); keep baskets as the "
            "BIGINT bit_or mask"
        )
        assert not has_node(df, "SortAggregate"), (
            "q_assoc_rules plan contains SortAggregate — the basket "
            "build must stay a codegen hash aggregate"
        )


class TestPagerankFormIdentity:
    """r12: q_pagerank selects between two physical forms by input size
    (PR_WIDE_INPUT_BYTES) — the directed pin at bench scale, the
    half-row undirected pin with per-iteration explode at sf1+ (the pin
    WRITE dominated the sf10 wall: 56.5 s of 67.2). The forms must be
    value-identical: same integer formulas over the same contribution
    multiset, so every (node, rank) row matches exactly."""

    def test_wide_and_small_forms_agree(self, spark, monkeypatch):
        from elric_rs_spark.operators import graph

        sf = "/root/testdata/sf0.01"
        monkeypatch.setattr(graph, "PR_WIDE_INPUT_BYTES", 2**63)
        small = sorted(
            map(tuple, QUERIES["q_pagerank"](spark, sf).collect())
        )
        monkeypatch.setattr(graph, "PR_WIDE_INPUT_BYTES", 0)
        wide = sorted(
            map(tuple, QUERIES["q_pagerank"](spark, sf).collect())
        )
        assert small == wide
        assert len(small) > 0
