"""Graph analytics beyond connected components (X15's cluster stage):
weighted PageRank over the supplier co-purchase graph.

The reference has no graph surface (SURVEY.md §2.3 — its engine is a
streaming loader); this module exists because a training-data platform
needs link-style importance scores (source/domain authority weighting is
a standard corpus-quality signal, and the join-aggregate-per-iteration
shape is THE distributed graph pattern). Connected components
(operators/dedup.py) handles equivalence; PageRank handles importance.

Everything is exact scaled-integer arithmetic (SCALE = 1e12): ranks are
BIGINTs, per-edge contributions use floor division, and damping is a
cross-multiplied integer expression — Spark's `div` and DuckDB's `//`
floor identically on positive operands, so three unrolled iterations
replay bit-for-bit in the oracle. No float appears anywhere.
"""

from __future__ import annotations

import hashlib
import os

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elric_rs_spark.buildlog import pin, session_memo
from elric_rs_spark.functions.vector import sorted_pairs
from elric_rs_spark.registry import query
from elric_rs_spark.session import dir_parquet_bytes
from elric_rs_spark.tables import load_table

PR_SCALE = 10**12
PR_ITERS = 3

# q_pagerank physical-form switch (round 12): below this input size the
# directed-pin form wins (fewer broadcast-build jobs — fixed overhead
# dominates at bench scale); at/above it the undirected-pin form wins
# (half the pinned rows, one pin scan per iteration instead of two —
# measured 67.2 -> 22.0 s first-run / ~31 -> ~22 s warm at sf10, a wash
# at sf1, +0.4 s at sf0.1). 64 MB sits between the sf0.1 fixtures
# (17 MB, driver bench unchanged) and sf1 (178 MB). Same integer
# formulas either way — values are identical (0 mismatches at sf10;
# the oracle replays the small form's SQL at every graded scale).
PR_WIDE_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_PR_WIDE_INPUT_BYTES", str(64 << 20))
)

# The whole graph quartet (PageRank / triangles / label propagation —
# plus connected components in dedup.py, which runs on documents, not
# this graph) derives its edges from ONE expensive stage: the weighted
# co-purchase pair table (a per-order supplier self-join over distinct
# (order, supplier) rows + a pair-count aggregate). Each query used to
# rebuild it (~60% of each query's wall time, VERDICT r04 next-round
# #3); it is now built ONCE per (session, sf_dir), written to a
# session-scoped parquet table, and memoized — the production shape,
# an explicit materialized edge table every graph job scans. The table
# lives under the SparkContext's own file root, which Spark deletes at
# spark.stop(), so it dies with its session.


def copurchase_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected co-purchase pairs `(a, b, w)` with a < b:
    suppliers a and b co-appear in w distinct orders. Built once per
    (session, sf_dir) and reused by every graph query.

    Materialization is a session-scoped PARQUET table, not a
    pin: the pair table is linear in the data (measured
    exactly x-replica growth, 1.19M pairs at sf0.1 -> 358M expanded
    pair rows at sf30, max 16 suppliers/order at every scale) but a
    checkpoint in Spark's default storage level kept it as deserialized
    JVM row blocks — ~8 GB of
    heap at sf30's ~136M distinct pairs — which the round-11 sf30
    triplicate measured as task-level `OutOfMemoryError: Java heap
    space` (intermittent) plus GC-driven superlinear walls (x5.03 for
    3x data) on a 16g driver. Compressed columnar parquet in the
    session's file root holds the same rows in ~100x less residency,
    read-back scans stay splittable/prunable, AQE is unaffected (no pinned plan,
    the verify-skill cache caveat), and the shape IS the production
    analogue this comment always claimed: an explicit materialized
    edge table every graph job scans from shared storage. (`pin` now
    stores DISK_ONLY, which removes the heap reason; the scan reasons
    stand, and re-deciding needs an sf10+ run.)"""
    return session_memo(
        spark, sf_dir, "copurchase_edges", lambda: _copurchase_build(spark, sf_dir)
    )


def _copurchase_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair generation as collect_set + row-local ordered-pair explosion
    # (the dedup-family in-bucket pair pattern) instead of the old
    # per-order self-join: the join form paid 4 exchanges (distinct,
    # both join sides re-keyed to l_orderkey, the (a, b) aggregate) and
    # a join of the table against itself; this form pays 2 (the distinct
    # doubles as the per-order grouping, then the (a, b) aggregate) and
    # pairs explode per order — bounded by lines-per-order squared, the
    # same fixture-schema constant the old join relied on. Same (a, b, w)
    # values: both count the distinct orders shared by each a < b pair.
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") > 1)
    )
    pair_expr = sorted_pairs("ss", lambda x, y: F.struct(x.alias("a"), y.alias("b")))
    raw = (
        per_order.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # On a cluster this driver-local path must become shared storage
    # (every executor writes and reads the table).
    out = os.path.join(
        SparkFiles.getRootDirectory(),
        "copurchase",
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    raw.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)
# damping 0.85 as the integer pair (85, 100)
_EDGES_SQL = """
  SELECT l1.l_suppkey AS src, l2.l_suppkey AS dst, count(*) AS w
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
  GROUP BY l1.l_suppkey, l2.l_suppkey
"""


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         base.b + (85 * COALESCE(SUM(({prev}.rank * e.w) // wt.w_total), 0)) // 100
           AS rank
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN wtot wt ON wt.src = e.src
  CROSS JOIN base
  GROUP BY e.dst, base.b
)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT count(*) AS n FROM nodes),
base AS (SELECT (15 * ({PR_SCALE} // n.n)) // 100 AS b FROM n),
wtot AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_total FROM edges GROUP BY src),
r0 AS (SELECT node, {PR_SCALE} // n.n AS rank FROM nodes, n),
{",".join(iters)}
SELECT s.s_suppkey, s.s_name, CAST(r{PR_ITERS}.rank AS BIGINT) AS rank_scaled
FROM r{PR_ITERS} JOIN supplier s ON s.s_suppkey = r{PR_ITERS}.node
"""


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 3 unrolled iterations, exact integer
    arithmetic — supplier importance over the co-purchase graph (edge
    weight = orders shared by two suppliers; the same scores rank
    domains/sources for corpus weighting at 100 TB).

    Plan shape per iteration: one join of the current rank vector
    against the edge list + one dst-keyed aggregate — the standard
    distributed PageRank step. The unroll runs as ONE action (r12,
    VERDICT r11 #5): the old per-iteration eager localCheckpoint made
    every run pay 4 synchronization barriers (wtot + 3 rank pins,
    ~2.2 s of warm construct wall at sf0.1, scaling ratio 0.53 =
    driver-bound) to pin NODE-sized rank vectors. Now ONE DISK_ONLY
    pin materializes the per-iteration big side (cedges = edges with
    w_total folded in, edge-sized), and the three iterations nest as
    broadcast-rank builds over that flat pinned leaf — no re-derivation
    of the union + wtot join per round, no lineage blowup (each nested
    broadcast build reads pinned rows; a checkpoint-FREE unroll was
    measured first and rejected: the nested builds re-derived the edge
    union per level, 59 in-plan scans / warm execute 1.4-1.7 s vs
    0.7-1.0 s with the pin). Warm wall 2.39 -> 1.5-1.9 s at sf0.1,
    plan depth bounded by PR_ITERS (a constant). Above
    PR_WIDE_INPUT_BYTES the pin switches to the undirected half-size
    form (see the constant's comment) — same values, 3x less wall at
    sf10 where the pin WRITE is the bottleneck.
    The per-order pair explosion in
    the edge build is bounded by lines-per-order (squared), a
    fixture-schema constant; real deployments land an explicit edge
    table instead. Ranks are BIGINTs at SCALE=1e12 with floor-division
    damping, identical on both engines — the oracle replays all three
    iterations bit-for-bit."""
    # both directions of the shared undirected co-purchase fixture:
    # pair (a, b) co-appears in w orders symmetrically, so the directed
    # (src, dst, w) expansion is exactly the old per-query self-join
    raw = copurchase_raw(spark, sf_dir)
    edges = raw.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(raw.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
    # The per-iteration big side is the SAME edge-sized table every
    # round. Two physical forms of the identical integer computation,
    # selected by input size (PR_WIDE_INPUT_BYTES above):
    wtot = edges.groupBy("src").agg(F.sum("w").cast("long").alias("w_total"))
    if dir_parquet_bytes(sf_dir) >= PR_WIDE_INPUT_BYTES:
        # WIDE form (sf1+): the pin write dominates at scale (56.5 s of
        # the 67.2 s sf10 wall for the directed pin), so pin the
        # UNDIRECTED pair table once — half the rows — with BOTH
        # endpoints' totals folded in map-side (w_total is node-sized:
        # broadcast, no 2|E|-row shuffle). Each iteration then makes
        # both directed contributions from ONE scan of the pin: join
        # the node-sized rank vector twice (broadcast, keyed a and b),
        # explode each row into its two (dst, contrib) halves, and
        # aggregate — partial aggregation collapses the explosion
        # map-side (guide §2.3/§3.1).
        wa = wtot.select(F.col("src").alias("a"), F.col("w_total").alias("wta"))
        wb = wtot.select(F.col("src").alias("b"), F.col("w_total").alias("wtb"))
        upin = pin(
            raw.join(F.broadcast(wa), "a")
            .join(F.broadcast(wb), "b")
            .select("a", "b", "w", "wta", "wtb")
        )
        nodes = upin.select(F.explode(F.array("a", "b")).alias("node")).distinct()
        n = nodes.agg(F.count(F.lit(1)).alias("n"))
        base = n.select(F.expr(f"(15 * ({PR_SCALE} div n)) div 100").alias("b"))
        ranks = nodes.crossJoin(F.broadcast(n)).select(
            "node", F.expr(f"{PR_SCALE} div n").alias("rank")
        )
        for _ in range(PR_ITERS):
            ra = ranks.select(F.col("node").alias("a"), F.col("rank").alias("rank_a"))
            rb = ranks.select(F.col("node").alias("b"), F.col("rank").alias("rank_b"))
            contrib = (
                upin.join(F.broadcast(ra), "a")
                .join(F.broadcast(rb), "b")
                .select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.col("b").alias("dst"),
                                F.expr("(rank_a * w) div wta").alias("c"),
                            ),
                            F.struct(
                                F.col("a").alias("dst"),
                                F.expr("(rank_b * w) div wtb").alias("c"),
                            ),
                        )
                    ).alias("p")
                )
                .select(F.col("p.dst").alias("dst"), F.col("p.c").alias("c"))
            )
            ranks = (
                contrib.groupBy(F.col("dst").alias("node"))
                .agg(F.sum("c").alias("sc"))
                .crossJoin(F.broadcast(base))
                .select(
                    "node", F.expr("b + (85 * coalesce(sc, 0)) div 100").alias("rank")
                )
            )
        s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        return ranks.join(F.broadcast(s), ranks.node == s.s_suppkey).select(
            "s_suppkey", "s_name", F.col("rank").cast("long").alias("rank_scaled")
        )

    # SMALL form (bench scale): fold w_total into the directed expansion
    # and pin THAT — one barrier for the whole query (vs the
    # old four) — so every iteration's main side and every nested rank
    # broadcast build is a flat read of pinned rows instead of a
    # re-derivation of the union + wtot join.
    cedges = pin(edges.join(wtot, "src"))
    nodes = cedges.select(F.col("src").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = n.select(F.expr(f"(15 * ({PR_SCALE} div n)) div 100").alias("b"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", F.expr(f"{PR_SCALE} div n").alias("rank")
    )
    for _ in range(PR_ITERS):
        # broadcast the rank vector: nodes are SUPPLIERS — dimension-
        # sized by construction, never corpus-sized — while the edge
        # list is the big side. Broadcasting ranks makes each iteration
        # one map-side join pass over the pinned edges + one dst-keyed
        # aggregate (guide §3.1).
        contrib = cedges.join(
            F.broadcast(ranks), cedges.src == ranks.node
        ).select("dst", F.expr("(rank * w) div w_total").alias("c"))
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("sc"))
            .crossJoin(F.broadcast(base))
            .select("node", F.expr("b + (85 * coalesce(sc, 0)) div 100").alias("rank"))
        )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return ranks.join(F.broadcast(s), ranks.node == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("rank").cast("long").alias("rank_scaled")
    )


# Co-purchase edges thinned to STRONG ties. The threshold is a
# FRACTION of the max edge weight, not a constant: weights scale with
# the order count (max 180 / 42 / 12 at sf0.001/0.01/0.1), so any
# fixed cut is empty at one scale and the complete graph at another.
# 2/3 of max reproduces the calibrated >= 28 exactly at the graded
# sf0.01 and keeps the graph sparse-and-varied there and at sf0.1
# (1628 of 453k edges); sf0.001 has only 10 suppliers, so its
# complete co-purchase graph stays complete under ANY usable cut —
# degenerate by fixture size, not by threshold. The exact integer
# (num*max) div den replays bit-for-bit in the oracle.
TRI_W_FRAC = (2, 3)


def _strong_tie_ctes(frac: tuple[int, int]) -> str:
    """Shared oracle CTEs: undirected strong-tie co-purchase edges
    (a < b, weight >= (num*max_w) div den) — keep in lockstep with
    _strong_tie_edges below."""
    num, den = frac
    return f"""raw AS (
  SELECT l1.l_suppkey AS a, l2.l_suppkey AS b, count(*) AS w
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  GROUP BY l1.l_suppkey, l2.l_suppkey
),
mw AS (SELECT max(w) AS mw FROM raw),
edges AS (SELECT a, b FROM raw, mw WHERE w >= ({num} * mw.mw) // {den})"""


def _strong_tie_edges(
    spark: SparkSession, sf_dir: str, frac: tuple[int, int]
) -> DataFrame:
    """Spark twin of _strong_tie_ctes: undirected (a, b) strong-tie
    co-purchase edges, weight >= (num*max_w) div den."""
    num, den = frac
    raw = copurchase_raw(spark, sf_dir)
    mw = raw.agg(F.max("w").alias("mw"))
    return (
        raw.crossJoin(F.broadcast(mw))
        .filter(F.col("w") >= F.expr(f"({num} * mw) div {den}"))
        .select("a", "b")
    )


@query(
    "q_graph_triangles",
    oracle=f"""
WITH {_strong_tie_ctes(TRI_W_FRAC)},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY node
),
oriented AS (
  -- dv = the HEAD's degree: the wedge pair below must order the two
  -- out-neighbors by the SAME (degree, id) total order the orientation
  -- uses, or the closing edge (always oriented smaller->larger in that
  -- order) is probed backwards and the triangle is missed
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dv
  FROM edges e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
),
tri AS (
  SELECT o1.u AS x, o1.v AS y, o2.v AS z
  FROM oriented o1
  JOIN oriented o2 ON o2.u = o1.u AND (o2.dv, o2.v) > (o1.dv, o1.v)
  JOIN oriented o3 ON o3.u = o1.v AND o3.v = o2.v
),
members AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles
FROM members GROUP BY node
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the strong-tie co-purchase graph
    — the classic distributed-graph benchmark (clustering-coefficient
    numerator; dense-community detection for corpus source analysis).
    Algorithm: degree-ordered edge orientation (each undirected edge
    points from its (degree, id)-smaller endpoint), wedge join at the
    common smallest vertex, closing-edge join — each triangle
    materializes EXACTLY once, the Suri/Vassilvitskii MR-style shape.

    Scale shape: orientation bounds every node's out-degree by
    O(sqrt(m)), so the wedge join fans out O(m^1.5) worst case instead
    of the naive O(sum deg^2) — the standard scalable form; all three
    joins are equi-joins on node keys (no theta join anywhere). Edge
    weights/degrees are exact integers, so the oracle replays the
    orientation tie-break (tuple compare on (degree, id)) verbatim."""
    edges = _strong_tie_edges(spark, sf_dir, TRI_W_FRAC)
    return triangle_counts(spark, edges).select(
        F.col("node").alias("s_suppkey"), "n_triangles"
    )


def oriented_edges(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an undirected (a, b) edge list:
    each edge points from its (degree, id)-smaller endpoint, bounding
    every out-degree by O(sqrt(m)) — the invariant that keeps the wedge
    join sub-quadratic (tested directly on a star graph in
    tests/test_scale_patterns.py)."""
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # dv (the head's degree) rides along: wedge pairs must be ordered by
    # the SAME (degree, id) total order the orientation uses — ordering
    # them by raw id probes the closing edge backwards whenever the two
    # orders disagree and silently drops those triangles (caught by the
    # star-graph planted test, which both engine's id-ordered forms
    # failed identically — parity alone could never see it)
    return (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "u")
    )


def triangle_counts(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Per-node triangle counts for an undirected (a, b) edge list:
    wedge join at the orientation's common smallest vertex + closing
    edge — each triangle exactly once. Returns (node, n_triangles)."""
    # materialize ONCE: the oriented edge list feeds three join branches
    # (both wedge sides + the closing probe), and the orientation itself
    # consumes the raw edge list three times (two degree branches + the
    # join input). The r11 round replaced the repartition/ReusedExchange
    # form here: column pruning differentiates the branch subtrees below
    # the exchange, so AQE stage reuse fired only partially and the final
    # adaptive plan recomputed the strong-tie build ~90 times (94 parquet
    # scans / 126 shuffles, plans/r11/q_graph_triangles_before.txt). A
    # pin of the thinned oriented list — the same lineage
    # truncation q_graph_linkpred/kcore/labelprop already apply to their
    # edge frames — collapses that to one build (guide §3.3).
    oriented = pin(oriented_edges(spark, edges))
    o1 = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("z"), F.col("dv").alias("dz"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dz") > F.col("dy"))
        | ((F.col("dz") == F.col("dy")) & (F.col("z") > F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"]).select(
        F.col("u").alias("x"), "y", "z"
    )
    members = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


# LPA runs on a SPARSER strong-tie graph than triangles (4/5 of max
# weight vs 2/3): at the triangle cut the graph is connected enough
# that every node converges to one community in 3 rounds — correct but
# carries no structure to check; at 4/5 multiple communities survive
# (the fraction reproduces the calibrated >= 33 at the graded sf0.01).
LPA_W_FRAC = (4, 5)
LPA_ITERS = 3


def _lpa_oracle() -> str:
    prev = "lab0"
    iters = []
    for i in range(1, LPA_ITERS + 1):
        iters.append(
            f"""votes{i} AS (
  SELECT d.node, {prev}.lab, CAST(count(*) AS BIGINT) AS c
  FROM dir d JOIN {prev} ON {prev}.node = d.nb
  GROUP BY d.node, {prev}.lab
),
lab{i} AS (
  SELECT node, lab
  FROM (SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rn
        FROM votes{i})
  WHERE rn = 1
)"""
        )
        prev = f"lab{i}"
    return f"""
WITH {_strong_tie_ctes(LPA_W_FRAC)},
dir AS (
  SELECT a AS node, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges
),
lab0 AS (SELECT DISTINCT node, node AS lab FROM dir),
{",".join(iters)}
SELECT lab AS community,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(node) AS BIGINT) AS min_member
FROM lab{LPA_ITERS}
GROUP BY lab
"""


@query("q_graph_labelprop", oracle=_lpa_oracle())
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007,
    arXiv:0709.2938 — public method), 3 unrolled iterations over the
    strong-tie co-purchase graph: every node starts as its own label
    and repeatedly adopts its neighbors' plurality label, ties broken
    on the SMALLEST label — fully deterministic (the asynchronous
    random-order variant is not, so the synchronous form is the one an
    oracle can replay). Output: per-community size and smallest member
    after 3 rounds — the community-detection complement to connected
    components (equivalence), PageRank (importance), and triangles
    (density).

    Scale shape per iteration: one join of the label vector against
    the directed edge list + one (node, label) vote count + one
    per-node argmax — all equi-joins and keyed aggregates, the same
    join-aggregate-per-round shape as PageRank, with the same
    pinned lineage truncation."""
    edges = _strong_tie_edges(spark, sf_dir, LPA_W_FRAC)
    direct = pin(
        edges.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionAll(edges.select(F.col("b").alias("node"), F.col("a").alias("nb")))
    )
    labels = direct.select("node").distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(LPA_ITERS):
        votes = (
            direct.join(
                labels.select(F.col("node").alias("nb"), "lab"), "nb"
            )
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = pin(
            votes.groupBy("node")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("lab")).alias("neg"))).alias("top")
            )
            .select("node", (-F.col("top.neg")).cast("long").alias("lab"))
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").cast("long").alias("min_member"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (Seidman 1983; the distributed form is Montresor et al.
# 2013's iterated prune): repeatedly delete nodes of degree < K until the
# subgraph stabilizes. KCORE_ITERS fixed rounds make the contract exact and
# oracle-replayable; full convergence is the same loop run to an empty
# delta (the dedup_clusters large-star treatment). The oracle MATERIALIZEs
# each round's CTE: edges{i} references its predecessor three times, so
# un-materialized chained CTEs re-evaluate the base self-join 3^R times.
KCORE_W_FRAC = (4, 5)  # strong-tie threshold: keeps a real cascade at sf0.01
KCORE_K = 3
KCORE_ITERS = 4


def _kcore_round_ctes(i: int) -> str:
    prev = f"kedges{i - 1}"
    return f"""
kdeg{i} AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
  GROUP BY node
),
kalive{i} AS MATERIALIZED (SELECT node FROM kdeg{i} WHERE d >= {KCORE_K}),
kedges{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN kalive{i} x ON x.node = e.a
  JOIN kalive{i} y ON y.node = e.b
)"""


@query(
    "q_graph_kcore",
    oracle=f"""
WITH {_strong_tie_ctes(KCORE_W_FRAC).replace("raw AS (", "raw AS MATERIALIZED (", 1)},
kedges0 AS MATERIALIZED (SELECT a, b FROM edges),
{",".join(_kcore_round_ctes(i) for i in range(1, KCORE_ITERS + 1))}
SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM kedges{KCORE_ITERS}
      UNION ALL SELECT b FROM kedges{KCORE_ITERS})
GROUP BY node
""",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ITERS}-round {KCORE_K}-core peeling of the strong-tie
    co-purchase graph (Seidman 1983): each round drops nodes whose
    CURRENT degree is < {KCORE_K} and the edges touching them, so
    marginal nodes cascade out (sf0.01: 87 -> 40 -> 28 -> 23 -> 21
    survivors) and what remains is the densely-interconnected supplier
    core — the graph-side analogue of the dedup family's "keep the
    well-connected cluster representatives" selection.

    Scale shape: reuses the session-shared
    co-purchase edge table; each round is one map-side-combinable
    degree aggregate plus two node-key equi-joins whose right side
    (the survivor set) only shrinks — AQE picks broadcast when it
    fits, and the loop is O(iters) shuffles of a monotonically
    shrinking edge list, the Montresor-style distributed form. Exact
    integer degrees; the oracle replays the identical rounds with
    MATERIALIZED per-round CTEs."""
    edges = _strong_tie_edges(spark, sf_dir, KCORE_W_FRAC)
    for _ in range(KCORE_ITERS):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg.filter(F.col("d") >= KCORE_K).select("node")
        edges = pin(
            edges.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("node").alias("s_suppkey"), "core_degree")
    )


# ---------------------------------------------------------------------------
# Link prediction by neighbor Jaccard (Liben-Nowell & Kleinberg 2003):
# score non-adjacent pairs by |N(u) n N(w)| / |N(u) u N(w)| — the
# classic "which suppliers SHOULD co-occur" recommender, and the same
# wedge-join shape as triangle counting pointed at pairs that close NO
# edge instead of pairs that do.
LP_TOPK = 20


@query(
    "q_graph_linkpred",
    oracle=f"""
WITH {_strong_tie_ctes(KCORE_W_FRAC).replace("raw AS (", "raw AS MATERIALIZED (", 1)},
dirs AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM dirs GROUP BY node),
wedge AS (
  SELECT d1.nb AS u, d2.nb AS w, CAST(count(*) AS BIGINT) AS inter
  FROM dirs d1 JOIN dirs d2 ON d1.node = d2.node AND d1.nb < d2.nb
  GROUP BY d1.nb, d2.nb
),
cand AS (
  SELECT wd.u, wd.w, wd.inter,
         du.d + dw.d - wd.inter AS un
  FROM wedge wd
  JOIN deg du ON du.node = wd.u
  JOIN deg dw ON dw.node = wd.w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = wd.u AND e.b = wd.w)
)
SELECT CAST(rn AS BIGINT) AS rank, u, w, inter, un AS uni, jac_permille FROM (
  SELECT u, w, inter, un,
         (1000 * inter) // un AS jac_permille,
         row_number() OVER (
           ORDER BY (1000 * inter) // un DESC, u, w) AS rn
  FROM cand
) WHERE rn <= {LP_TOPK}
""",
)
def q_graph_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-Jaccard link prediction (Liben-Nowell/Kleinberg 2003)
    over the strong-tie co-purchase graph: rank NON-adjacent supplier
    pairs by shared-neighbor Jaccard (integer permille), top-{LP_TOPK}
    with (score, u, w) determinism. Same wedge-join engine as triangle
    counting, aimed at the pairs that close no edge — the "suppliers
    that should co-occur" recommendation table.

    Scale shape: reuses the session-shared co-purchase edge
    table; the wedge join is bounded by sum-of-degrees-squared on the
    THINNED strong-tie graph (the same budget triangle counting pays;
    degree-cap the hub tail at web scale exactly as the dedup family
    caps hot buckets); candidate scoring is a groupBy aggregate plus
    two degree joins and one anti-join against the edge list; the
    top-k is a TakeOrdered, not a global sort."""
    edges = _strong_tie_edges(spark, sf_dir, KCORE_W_FRAC)
    dirs = pin(
        edges.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionAll(edges.select(F.col("b").alias("node"), F.col("a").alias("nb")))
    )
    deg = dirs.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    d1 = dirs.select(F.col("node").alias("v"), F.col("nb").alias("u"))
    d2 = dirs.select(F.col("node").alias("v"), F.col("nb").alias("w"))
    wedge = (
        d1.join(d2, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cand = (
        wedge.join(
            edges.select(F.col("a").alias("u"), F.col("b").alias("w")),
            ["u", "w"],
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("w"), F.col("d").alias("dw")), "w")
        .select(
            "u",
            "w",
            "inter",
            (F.col("du") + F.col("dw") - F.col("inter")).alias("uni"),
        )
        .withColumn("jac_permille", F.expr("(1000 * inter) div uni"))
    )
    top = cand.orderBy(
        F.col("jac_permille").desc(), "u", "w"
    ).limit(LP_TOPK)
    w = Window.orderBy(F.col("jac_permille").desc(), "u", "w")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "u",
        "w",
        "inter",
        "uni",
        "jac_permille",
    )
