"""Hash aggregates (SURVEY.md X5-X7, T4).

All pure `groupBy().agg()` built-ins: Catalyst plans partial (map-side)
aggregation before the shuffle, so at 100 TB the shuffle carries one row
per (partition, group), not per input row. No UDFs in this path — the whole
pipeline stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elric_rs_spark.buildlog import pin, session_memo
from elric_rs_spark.functions.hashing import hex13_sql
from elric_rs_spark.registry import query
from elric_rs_spark.tables import load_table


@query(
    "q_agg_tpch1",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_extendedprice), 6) AS avg_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_tpch1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship multi-aggregate hash aggregation.

    Scale: filter + 9 aggregates over 2 low-cardinality keys -> partial agg
    reduces ~everything map-side; shuffle is a handful of rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_groupby_count",
    oracle="""
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def q_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-by-table grouping semantics (ref loader.rs:231-247): the
    reference partitions a change-set by target table name; relationally
    that is a groupBy on the routing key."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_agg_rollup",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (X6): grand total + per-flag subtotals + leaves."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_agg_cube",
    oracle="""
SELECT
  o_orderstatus,
  o_orderpriority,
  round(sum(o_totalprice), 2) AS sum_price,
  count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation (X6): all grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query("q_agg_approx")  # rows-only: HLL sketch differs from DuckDB's estimator
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (X7): HyperLogLog++ sketch. At 100 TB this is
    the only sane way to count distincts — mergeable fixed-size sketch, no
    exact-distinct shuffle explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )


# --- KMV (bottom-k) distinct sketch with a FULL value oracle (X7) -------
#
# q_agg_approx's HLL sketch is engine-internal, so three rounds of grading
# could only ever check row counts. This twin gives X7 a hard correctness
# signal the same way q_dedup_minhash_portable did for MinHash: every
# hashed quantity is md5-over-string, which Spark and DuckDB compute
# identically, and the estimator is exact BIGINT arithmetic, so the WHOLE
# sketch — membership, kth value, estimate — replays bit-for-bit in SQL.
#
# Estimator: with the K smallest distinct hash values mapped into [0,1),
# est = (K-1)/u_K. Portably: u_K is the first 13 hex chars of the kth
# hash read as an integer v < 2^52, and est = ((K-1)*2^52) div v — the
# numerator is 58 bits, everything stays in BIGINT, and Spark's
# truncating `div` equals DuckDB's floor `//` because both operands are
# positive. Fewer than K distincts => the sketch IS the exact count.
KMV_K = 64
_KMV_NUM = (KMV_K - 1) * (1 << 52)
# Salt fan-out for the two-level bottom-K build. The naive build --
# Window.partitionBy(<3-value key>).orderBy(h) over the full distinct-hash
# set -- shuffles every hash to |key| tasks, each sorting the corpus
# single-threaded. The KMV merge property (bottom-K of a union of
# bottom-Ks == bottom-K of the union; pinned independently of both
# engines in TestSketchUnionMergeProperty and TestKmvTwoLevelBuild) makes
# the scalable build trivial: salt each hash into (key, pmod(xxhash64(h),
# S)) groups, take the LOCAL bottom-K per salt (key x S parallel groups,
# each sorting ~1/S of the key's hashes; Spark 4's WindowGroupLimit
# additionally caps each map-side input at K rows before the exchange),
# then merge the K x S survivors per key with a second, sketch-sized
# window. Output rows are IDENTICAL to the single-window build, so the
# DuckDB oracles keep the simple one-window formulation.
KMV_SALTS = 32

# Session-scoped memo of the canonical per-l_returnflag KMV sketch (r11):
# q_agg_approx_portable, q_sketch_union and q_sketch_intersect build the
# IDENTICAL bottom-K distinct-md5(l_orderkey) sketch, and the union /
# intersect queries additionally consumed it from 2-3 plan branches each
# — so the corpus pass (md5 + salted WindowGroupLimit sort) ran up to
# SIX times per suite. Built through buildlog.session_memo inside the
# first consumer's timed region; the sketch is |flags| x K rows, so the
# pin is trivially small. Values are unchanged — every
# consumer reads the same rows the standalone build produced.


def kmv_flag_sketch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-materialized canonical sketch plan — the salted two-level
    bottom-K build over lineitem. Exposed separately so the plan gate
    (tests/test_plans.py::TestKmvTwoLevelPlan) can assert the salted
    exchange shape on the build itself; queries consume it through the
    memo below."""
    li = load_table(spark, sf_dir, "lineitem")
    hashes = li.select(
        "l_returnflag", F.md5(F.col("l_orderkey").cast("string")).alias("h")
    )
    return _kmv_bottom_k(hashes, ["l_returnflag"])


def kmv_flag_sketch_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (l_returnflag, h) bottom-K sketch over lineitem,
    built once per (session, sf_dir) and shared by the KMV family."""
    return session_memo(
        spark,
        sf_dir,
        "kmv_flag_sketch",
        lambda: pin(kmv_flag_sketch_plan(spark, sf_dir)),
    )



def _kmv_bottom_k(hashes: DataFrame, key_cols: list[str], k: int = KMV_K) -> DataFrame:
    """Two-level (salted) bottom-K DISTINCT hashes per key, over a hash
    MULTISET — callers pass the raw projection, no corpus-wide
    .distinct() anywhere.

    Round-8 rework (the sf1->sf10 decade finding): the previous build
    required pre-distinct input, and that corpus-wide (key, h) hash
    aggregate WAS the scale bug — on 60M rows it deduplicates only
    ~25% (the key carries a ~1.3x dup factor) while every map task
    builds a ~1.4M-entry string-keyed hash table; per-row cost GROWS
    with corpus size as the tables fall out of cache (measured
    41.6x/decade wall at 32 shuffle partitions, 25x at the
    data-proportional count, zero spill — pure cache-locality
    superlinearity, unfixable by partitioning because map tasks are
    input-split-sized). The fix removes the aggregate entirely:

    1. salt each row into (key, kmv_salt = pmod(xxhash64(h), S));
    2. local cap with DENSE_RANK <= k over (key, salt | h): dense_rank
       (not row_number) makes duplicate h values share a rank, so the
       cap keeps every copy of the bottom-k DISTINCT values — Spark's
       InferWindowGroupLimit turns the filter into a map-side Partial
       WindowGroupLimit, a cache-friendly per-split sort that emits
       <= |key| x S x k x dup rows per split (kilobytes, vs the 2.1 GB
       the distinct-aggregate shuffled at sf10);
    3. distinct() on the capped survivor set (sketch-sized, trivial);
    4. merge: row_number <= k per key over K x S distinct survivors.

    Bottom-k-distinct of a union == bottom-k of per-split
    bottom-k-distincts (every member of the true bottom-k survives its
    split's dense_rank cap), so the output is IDENTICAL to the old
    build and the simple one-window DuckDB oracles are unchanged.
    Returns the bottom-k rows per key with the input schema."""
    # numeric-first sort key: lowercase hex is ASCII-ordered, so
    # lexicographic h order == numeric order of the hash value; sorting
    # by (52-bit prefix, h) compares longs and falls back to the string
    # only on 13-hex-prefix ties (~never at any realistic cardinality).
    # The corpus-sized local sort is this build's dominant cost — long
    # comparisons cut it ~2x vs 32-char string comparisons at 60M rows.
    hnum = F.conv(F.substring(F.col("h"), 1, 13), 16, 10).cast("long")
    w_local = Window.partitionBy(*key_cols, "kmv_salt").orderBy("kmv_hnum", "h")
    local = (
        hashes.withColumn("kmv_hnum", hnum)
        .withColumn(
            "kmv_salt", F.pmod(F.xxhash64(F.col("h")), F.lit(KMV_SALTS))
        )
        .withColumn("rn", F.dense_rank().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("rn", "kmv_salt")
        .distinct()
    )
    w_merge = Window.partitionBy(*key_cols).orderBy("kmv_hnum", "h")
    return (
        local.withColumn("rn", F.row_number().over(w_merge))
        .filter(F.col("rn") <= k)
        .drop("rn", "kmv_hnum")
    )
# substring(kth_hash, i, 1) as a hex digit, times its positional weight —
# all INTEGER LITERALS so DuckDB never leaves BIGINT (16^j as a double is
# exact only to 2^53; the sum here reaches 2^52 by design, too close)
_KMV_HEX_V = " + ".join(
    f"(strpos('0123456789abcdef', substring(kth_hash, {i}, 1)) - 1)"
    f" * {16 ** (13 - i)}"
    for i in range(1, 14)
)


@query(
    "q_agg_approx_portable",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT l_returnflag, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
),
bottom AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM hashes
),
agg AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash
  FROM bottom WHERE rn <= {KMV_K} GROUP BY l_returnflag
)
SELECT l_returnflag, k_used, kth_hash,
       CAST(CASE WHEN k_used < {KMV_K} THEN k_used
            ELSE {_KMV_NUM} // ({_KMV_HEX_V})
            END AS BIGINT) AS est_distinct
FROM agg
""",
)
def q_agg_approx_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable bottom-k (KMV) distinct-count sketch per l_returnflag —
    the value-checkable twin of q_agg_approx (X7). approx_count_distinct
    remains the at-scale kernel (HLL: fixed 1.5 KB mergeable state, no
    distinct shuffle); this twin costs one md5-distinct shuffle and
    exists so the sketch family has a driver-gradable full oracle.

    Scale shape: the distinct shuffle keys on the md5 hash — perfectly
    uniform even when the NATURAL key is skewed, which is already safer
    than exact countDistinct on a hot key. The bottom-K build is the
    salted two-level _kmv_bottom_k: local bottom-K over (flag, salt)
    groups — |flags| x KMV_SALTS parallel sorts, never a corpus sort on
    a 3-task key — then a merge window over K x S sketch-sized rows.
    Estimator arithmetic is driver-free and exact (see module
    comment)."""
    # the memoized session sketch (no corpus-wide distinct anywhere:
    # _kmv_bottom_k dedups inside the capped sketch-sized set)
    bottom = kmv_flag_sketch_for(spark, sf_dir)
    agg = bottom.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    v = F.conv(F.substring(F.col("kth_hash"), 1, 13), 16, 10).cast("long")
    est = F.when(F.col("k_used") < KMV_K, F.col("k_used").cast("long")).otherwise(
        F.expr(f"{_KMV_NUM} div v")
    )
    return agg.withColumn("v", v).select(
        "l_returnflag",
        "k_used",
        "kth_hash",
        est.alias("est_distinct"),
    )


@query(
    "q_agg_stats",
    oracle="""
SELECT
  event_type,
  round(avg(value), 6) AS avg_value,
  round(stddev_samp(value), 6) AS std_value,
  round(min(value), 2) AS min_value,
  round(max(value), 2) AS max_value,
  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS median_value
FROM events
GROUP BY event_type
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact median (percentile)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
    )


_GROUPING_SETS_SQL = """
SELECT
  c_mktsegment AS segment,
  CAST(c_nationkey AS BIGINT) AS nationkey,
  count(*) AS n_customers
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
"""


@query("q_agg_groupsets", oracle=_GROUPING_SETS_SQL)
def q_agg_groupsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (X6 beyond rollup/cube): three independent
    grouping layouts in ONE pass — Spark expands to a single Expand +
    hash-aggregate, not three scans. Identical ANSI text is the oracle."""
    from elric_rs_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_pivot",
    oracle="""
SELECT
  user_id % 10 AS bucket,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY user_id % 10
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): event counts per user bucket, one column per
    event type. The pivot VALUES are declared explicitly — at scale an
    implicit pivot triggers a distinct-scan job just to discover columns,
    and nondeterministic column sets break downstream schemas."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", PIVOT_EVENT_TYPES)
        .count()
    )
    return pivoted.select(
        "bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in PIVOT_EVENT_TYPES],
    )


@query(
    "q_agg_percentile",
    oracle="""
SELECT
  c_mktsegment AS segment,
  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (X5 extension): Spark's percentile()
    and DuckDB's quantile_cont share the linear-interpolation definition,
    so the values agree bit-for-bit before rounding. (approx_percentile
    is the at-scale variant; exact percentile is the oracle-checkable
    one.)"""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pct = F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(pct.alias("pct"))
        .select(
            "segment",
            F.round(F.element_at("pct", 1), 4).alias("p25"),
            F.round(F.element_at("pct", 2), 4).alias("p50"),
            F.round(F.element_at("pct", 3), 4).alias("p75"),
        )
    )


@query(
    "q_agg_custdist",
    oracle="""
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) per_cust
GROUP BY n_orders
""",
)
def q_agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    zero-order customers land in the n_orders=0 bin, then an aggregate OF
    an aggregate.

    Scale shape: the inner count groups on the join key the left join
    just shuffled on, so Catalyst reuses the partitioning (no second
    exchange); the outer groupBy keys on the count value — tiny domain,
    map-side combine collapses it to one row per distinct count per task.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q_agg_topview",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_cents
FROM rev
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_cents = (SELECT max(total_cents) FROM rev)
""",
)
def q_agg_topview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue supplier via aggregate view + join-back (TPC-H Q15
    shape): the revenue rollup is computed once, its max is taken as a
    scalar, and the winning row(s) join back to the dimension — ties
    all surface, unlike a LIMIT 1.

    Scale shape: the rollup aggregates lineitem down to one row per
    supplier BEFORE anything else touches it; the max is a single-row
    reduction of that small result and broadcasts back as a filter, and
    the supplier dimension joins broadcast. The 100 TB fact table is
    read once."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        ).alias("total_cents")
    )
    best = rev.agg(F.max("total_cents").alias("m"))
    return (
        rev.join(F.broadcast(best), rev.total_cents == best.m)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
    )


@query(
    "q_agg_concentration",
    oracle="""
WITH r AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM r)
SELECT l_partkey, rev_cents
FROM r, t
WHERE rev_cents * 4000 > total * 3
""",
)
def q_agg_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration scan (the TPC-H Q11 shape without partsupp):
    parts whose discounted revenue exceeds 1.5x the mean part share
    (fraction > 3/4000 of total across the 2000-part catalog).

    The share test is exact integer cross-multiplication
    (``rev*4000 > total*3``) — no float division anywhere, so the
    boundary cannot flip between engines.

    Scale shape: one partkey groupBy with per-row integer cents (map-side
    combined), then the grand total — a 1-row aggregate over the group
    output, NOT a second scan of lineitem — broadcast back as the filter
    threshold. Same plan at any corpus size; the only wide shuffle keys
    on uniform l_partkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    r = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    t = r.agg(F.sum("rev_cents").alias("total"))
    return (
        r.crossJoin(F.broadcast(t))
        .filter(F.col("rev_cents") * 4000 > F.col("total") * 3)
        .select("l_partkey", "rev_cents")
    )


@query(
    "q_agg_strings",
    oracle="""
SELECT r.r_name AS region,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def q_agg_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg / groupArray shape): per
    region, the comma-joined SORTED list of its nations. collect_list is
    partition-order-dependent, so the sort happens explicitly inside the
    aggregate projection (`array_sort` before `array_join`) — the only
    way a distributed listagg is deterministic. Grouping key cardinality
    bounds output size, so the aggregate state stays small at any scale."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "q_agg_argminmax",
    oracle="""
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rmax,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id) AS rmin
  FROM events
)
SELECT event_type,
       CAST(max(CASE WHEN rmax = 1 THEN event_id END) AS BIGINT)
         AS max_value_event,
       CAST(max(CASE WHEN rmin = 1 THEN event_id END) AS BIGINT)
         AS min_value_event,
       CAST(count(*) AS BIGINT) AS n
FROM ranked
GROUP BY event_type
""",
)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/arg-max aggregates (X5 extension): WHICH event carried
    the extreme value per group — the attribution question behind
    "which session produced the peak". One max(struct(value, tiebreak,
    payload)) per extreme: map-side combinable (each partition reduces
    to one candidate before the shuffle), where the oracle's window form
    must sort whole groups. Tie-break on event_id makes both engines
    pick the identical row; value quantized to exact cents for the
    comparison."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    maxc = F.struct(
        cents.alias("c"), (-F.col("event_id")).alias("neg"),
        F.col("event_id").alias("eid"),
    )
    minc = F.struct(
        (-cents).alias("c"), (-F.col("event_id")).alias("neg"),
        F.col("event_id").alias("eid"),
    )
    return ev.groupBy("event_type").agg(
        F.max(maxc).getField("eid").alias("max_value_event"),
        F.max(minc).getField("eid").alias("min_value_event"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_grouping_id",
    oracle="""
SELECT coalesce(c.c_mktsegment, 'ALL') AS segment,
       coalesce(o.o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(c.c_mktsegment) * 2 + GROUPING(o.o_orderpriority)
            AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY GROUPING SETS ((c.c_mktsegment, o.o_orderpriority),
                        (c.c_mktsegment), (o.o_orderpriority), ())
""",
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id over grouping sets (X6 extension): the bitmask that
    tells subtotal levels apart — required the moment a rollup feeds a
    report, since (NULL segment) from data is otherwise indistinguishable
    from the ALL-segments subtotal. Spark's grouping_id() bit order
    (first grouping column = most significant) matches the SQL-standard
    GROUPING() composition the oracle builds explicitly. One expanded
    aggregate (4 grouping sets in a single shuffle with map-side partial
    aggregation), dimension side broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return (
        j.groupingSets(
            [["c_mktsegment", "o_orderpriority"], ["c_mktsegment"],
             ["o_orderpriority"], []],
            "c_mktsegment",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
        )
    )


@query(
    "q_agg_corr",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
         sum(CAST(l_quantity AS BIGINT)
             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS corr_qty_price,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)), 6) AS covar_qty_price
FROM m
""",
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance aggregates (X5 extension) computed the
    CROSS-ENGINE-DETERMINISTIC way: the five moments accumulate as EXACT
    integers, then one closed-form float expression evaluates
    identically on both engines. Calling the builtin corr() directly
    would float-accumulate in partition order — a value that
    legitimately differs run to run; moments-then-formula is also how a
    distributed engine SHOULD compute corr (map-side combinable integer
    sums, one tiny final expression).

    ROUND-10 overflow fix (the sf1 coverage batch caught it): the cents
    square sum is ~1.6e13 PER ROW, so a BIGINT syy overflows past ~1M
    rows per group — invisible at the grading scales, an ANSI
    ARITHMETIC_OVERFLOW abort at sf1 (the docstring's old "< 2^63 at
    any tested SF" claim was true only through sf0.1). The square/cross
    moments now accumulate as DECIMAL(38,0) in Spark (exact, map-side
    combinable) and DuckDB's native HUGEINT sum in the oracle (exact),
    with ONE cast of each exact integer moment to double in the same
    formula position on both sides — identical IEEE inputs + identical
    op order = identical 6dp results, headroom to ~1e24 (beyond any
    conceivable per-group row count x cents^2)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    # decimal(18,0) inputs keep the product at precision 37 (<= Spark's
    # 38 cap with no runtime reduction); cents <= ~1e7 fit comfortably
    xd_, yd_ = x.cast("decimal(18,0)"), y.cast("decimal(18,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(xd_ * xd_).alias("sxx"),
        F.sum(yd_ * yd_).alias("syy"),
        F.sum(xd_ * yd_).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    cov_num = nd * sxyd - sxd * syd
    var_x = nd * sxxd - sxd * sxd
    var_y = nd * syyd - syd * syd
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov_num / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
        F.round(cov_num / (nd * (F.col("n") - 1)), 6).alias("covar_qty_price"),
    )


# Pivot values are DECLARED, not discovered: at 100 TB the
# values-discovery pass of an open pivot is a full extra scan + a
# driver-side distinct collect; a declared list keeps the plan one
# aggregate with a static schema (and is what makes the oracle's CASE
# form line up column-for-column).
PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_pivot_sums",
    oracle="""
SELECT user_id % 10 AS cohort,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS click_cents,
       CAST(sum(CASE WHEN event_type = 'error'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS error_cents,
       CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS purchase_cents,
       CAST(sum(CASE WHEN event_type = 'signup'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS signup_cents,
       CAST(sum(CASE WHEN event_type = 'view'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS view_cents
FROM events
GROUP BY user_id % 10
""",
)
def q_pivot_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (X5 surface widening): long->wide per-cohort sums, one
    column per declared event type. Named q_pivot_sums: the round-2
    q_pivot (count pivot, green driver row since r2) owns the plain
    name, and this round-4 variant silently SHADOWED it in the
    registry until tools/union_report.py surfaced the collision;
    the @query decorator now rejects duplicate names. This is the
    feature-matrix build step of a per-entity metrics table.

    Scale shape: Spark compiles a declared-values pivot into ONE hash
    aggregate whose state is |values| cells per group — a single
    shuffle on the cohort key, no per-value scans, no driver distinct.
    Sums are exact integer cents (see registry header)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wide = (
        ev.select((F.col("user_id") % 10).alias("cohort"), "event_type",
                  cents.alias("cents"))
        .groupBy("cohort")
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.sum("cents"))
    )
    n = (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    renamed = wide.select(
        "cohort", *[F.col(t).alias(f"{t}_cents") for t in PIVOT_TYPES]
    )
    return n.join(renamed, "cohort")


@query(
    "q_revenue_forecast",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
            AS BIGINT) AS discount_rev_cents,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the canonical
    predicate-pushdown benchmark — three range filters, zero joins,
    one global sum. All three predicates reach the parquet scan as
    PushedFilters (gated in tests/test_plans.py) so row groups outside
    the shipdate year never leave disk; ReadSchema carries only the 4
    referenced columns. The aggregate is a partial sum per partition
    and a 1-row final merge — at 100 TB this query is pure scan
    bandwidth, which is the point. Revenue accumulates as exact
    integer cents (order-independent), matching the oracle bit-for-bit;
    the discount band compares the same parsed-double literals on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents).alias("discount_rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100) AS BIGINT) AS q_cents,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p_cents,
         CAST(round(l_discount * 1000) AS BIGINT) AS d_mills
  FROM lineitem
),
long AS (
  SELECT l_returnflag, 'q_cents' AS measure, q_cents AS v FROM m
  UNION ALL
  SELECT l_returnflag, 'p_cents', p_cents FROM m
  UNION ALL
  SELECT l_returnflag, 'd_mills', d_mills FROM m
)
SELECT l_returnflag, measure,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS total
FROM long
GROUP BY l_returnflag, measure
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (the inverse of q_pivot — wide measures to a long
    (measure, value) stream, the shape feeding generic metric sinks and
    per-measure rollups). Measures are pre-rounded into integer units
    per row so the unpivoted sums are exact BIGINTs on both engines;
    the oracle replays the melt as a UNION ALL, which is exactly what
    Spark's unpivot lowers to (an Expand node — each input row emitted
    once per measure, no shuffle until the final aggregate).

    Scale shape: Expand (3x row fan-out, map-side) + ONE grouped
    aggregate on (flag, measure) — 9 uniform keys, map-side combined.
    No joins, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("q_cents"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p_cents"),
        F.round(F.col("l_discount") * 1000).cast("long").alias("d_mills"),
    )
    long_df = m.unpivot(
        ids=["l_returnflag"],
        values=["q_cents", "p_cents", "d_mills"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return long_df.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )


# Count-Min Sketch geometry: 4 independent hash rows x 16 buckets (the
# 1-hex-char md5 prefix) — deliberately NARROW so the ~30-token fixture
# vocabulary collides and the min-across-rows estimate actually exceeds
# exact counts (256 buckets would make every overcount 0 here); the
# engine-portable md5 family is the same as the MinHash/SimHash/KMV
# portable twins. Width is a constant: at scale you widen, the
# arithmetic is unchanged.
CMS_DEPTH = 4
CMS_TOPK = 20


@query(
    "q_sketch_cms",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
),
exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM toks GROUP BY tok
),
cells AS (
  SELECT d.d, substr(md5(exact.tok || '#' || d.d), 1, 1) AS bucket,
         CAST(sum(exact.exact_cnt) AS BIGINT) AS cell_total
  FROM exact CROSS JOIN range(0, {CMS_DEPTH}) d(d)
  GROUP BY d.d, substr(md5(exact.tok || '#' || d.d), 1, 1)
),
top AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok LIMIT {CMS_TOPK}
),
est AS (
  SELECT top.tok, top.exact_cnt,
         CAST(min(cells.cell_total) AS BIGINT) AS cms_est
  FROM top
  CROSS JOIN range(0, {CMS_DEPTH}) d(d)
  JOIN cells ON cells.d = d.d
            AND cells.bucket = substr(md5(top.tok || '#' || d.d), 1, 1)
  GROUP BY top.tok, top.exact_cnt
)
SELECT tok, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
""",
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters (Cormode & Muthukrishnan 2005 —
    public method): token frequencies estimated from a 4x16 counter
    grid (bucket = 1-hex-char prefix of md5(tok || '#' || row)), the
    estimate being the min cell total across the 4 rows; reported for
    the top-20 exact tokens alongside their true counts and the
    (always >= 0) overcount. The md5 bucket family makes the ENTIRE
    sketch replayable bit-for-bit in DuckDB — the same portable-oracle
    construction as the MinHash/SimHash/KMV twins, giving the sketch a
    full value check instead of a rows-only row.

    Scale shape: the counter grid is O(depth x width) — built with one
    vocabulary-sized groupBy (the exact counts are already the
    inverted-index aggregate) and a constant 4x fan-out; estimates
    join the tiny broadcast grid. In a streaming deployment the grid
    is the mergeable state (cell-wise sum across partitions/batches);
    this batch form verifies the arithmetic of exactly that merge."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    depth = spark.range(CMS_DEPTH).select(F.col("id").alias("d"))
    bucket = F.substring(
        F.md5(F.concat(F.col("tok"), F.lit("#"), F.col("d").cast("string"))), 1, 1
    )
    cells = (
        exact.crossJoin(F.broadcast(depth))
        .groupBy("d", bucket.alias("bucket"))
        .agg(F.sum("exact_cnt").alias("cell_total"))
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(CMS_TOPK)
    est = (
        top.crossJoin(F.broadcast(depth))
        .withColumn("bucket", bucket)
        .join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cell_total").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


@query(
    "q_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
),
mx AS (SELECT max(total_cents) AS max_cents FROM revenue)
SELECT s.s_suppkey, s.s_name, s.s_nationkey, r.total_cents
FROM revenue r
JOIN mx ON r.total_cents = mx.max_cents
JOIN supplier s ON s.s_suppkey = r.supplier_no
""",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one
    quarter, then the supplier(s) achieving the GLOBAL maximum — the
    classic view-plus-scalar-max decorrelation. Revenue goes through
    per-row integer cents (exact, order-independent) so the max and the
    equality against it are BIGINT comparisons, never float-ULP ties.

    Scale shape: the fact table collapses to supplier grain in one
    map-side-combinable aggregate before anything joins; the max is a
    one-row aggregate broadcast back (no global sort, no window over
    the corpus); the supplier dimension joins broadcast. Ties at the
    max surface as multiple rows — the oracle agrees by construction
    rather than by an arbitrary pick."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(cents).alias("total_cents"))
    )
    mx = revenue.agg(F.max("total_cents").alias("max_cents"))
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        revenue.join(
            F.broadcast(mx), F.col("total_cents") == F.col("max_cents")
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "s_nationkey", "total_cents")
    )


@query(
    "q_sketch_union",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT l_returnflag, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
),
bottom AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM hashes
),
kept AS (SELECT l_returnflag, h FROM bottom WHERE rn <= {KMV_K}),
per_group AS (
  SELECT l_returnflag AS scope, CAST(count(*) AS BIGINT) AS k_used,
         max(h) AS kth_hash
  FROM kept GROUP BY l_returnflag
),
uh AS (SELECT DISTINCT h FROM kept),
mrn AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM uh),
merged AS (
  SELECT 'ALL' AS scope, CAST(count(*) AS BIGINT) AS k_used,
         max(h) AS kth_hash
  FROM mrn WHERE rn <= {KMV_K}
),
allrows AS (
  SELECT * FROM per_group UNION ALL SELECT * FROM merged
)
SELECT scope, k_used, kth_hash,
       CAST(CASE WHEN k_used < {KMV_K} THEN k_used
            ELSE {_KMV_NUM} // ({_KMV_HEX_V})
            END AS BIGINT) AS est_distinct
FROM allrows
""",
)
def q_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE (the property that makes sketches the at-scale
    distinct-count answer): per-group bottom-K sketches estimate each
    l_returnflag's distinct orders, and the GLOBAL estimate is computed
    by merging the sketches alone — bottom-K of the union of the
    retained hashes, never a rescan of the data. That is exactly how a
    1000-shard deployment counts global distincts: each shard ships K
    hashes, the combiner merges K x shards rows. Output: one row per
    group plus the merged 'ALL' row, same estimator arithmetic as
    q_agg_approx_portable (exact BIGINT, floor-division-safe).

    Merge correctness (bottom-K of a union of bottom-Ks == bottom-K of
    the union) is pinned by a property test against the direct global
    sketch — and the BUILD now uses the same property internally: the
    salted two-level _kmv_bottom_k replaces the 3-task corpus-sort
    window. Scale shape: one hash-distinct shuffle, flags x KMV_SALTS
    parallel local bottom-Ks, and every stage after it runs over
    sketch-sized (K x groups) rows, not the corpus."""
    # the memoized session sketch; before the memo the per-group and
    # merge branches each re-ran the corpus pass (2 FileScans in the
    # executed plan)
    kept = kmv_flag_sketch_for(spark, sf_dir)
    per_group = kept.groupBy(F.col("l_returnflag").alias("scope")).agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_hash")
    )
    # merge: bottom-K of the union of retained hashes — K x groups rows,
    # so the unpartitioned window is sketch-sized by construction
    mrn = (
        kept.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
    )
    merged = (
        mrn.filter(F.col("rn") <= KMV_K)
        .agg(F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_hash"))
        .select(F.lit("ALL").alias("scope"), "k_used", "kth_hash")
    )
    allrows = per_group.unionByName(merged)
    v = F.conv(F.substring(F.col("kth_hash"), 1, 13), 16, 10).cast("long")
    est = F.when(F.col("k_used") < KMV_K, F.col("k_used").cast("long")).otherwise(
        F.expr(f"{_KMV_NUM} div v")
    )
    return allrows.withColumn("v", v).select(
        "scope", "k_used", "kth_hash", est.alias("est_distinct")
    )


# Equi-width histogram sketch for mergeable quantiles: B buckets of
# QSK_WIDTH cents over o_totalprice. The histogram IS the sketch — B
# integers per group, mergeable by vector addition, the same
# shard-and-combine contract as q_sketch_union but for quantiles (the
# fixed-bucket cousin of t-digest/KLL; bucket granularity is the
# documented accuracy tradeoff).
QSK_BUCKETS = 256
QSK_WIDTH = 250_000  # cents -> $2,500 buckets


@query(
    "q_sketch_quantile",
    oracle=f"""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
hist AS (
  SELECT o_orderpriority,
         least(c // {QSK_WIDTH}, {QSK_BUCKETS - 1}) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
),
grp AS (
  SELECT o_orderpriority AS scope, bucket, cnt FROM hist
  UNION ALL
  SELECT 'ALL', bucket, CAST(sum(cnt) AS BIGINT) FROM hist GROUP BY bucket
),
cum AS (
  SELECT scope, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY scope ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY scope) AS n
  FROM grp
),
med AS (
  SELECT scope, CAST(min(bucket) AS BIGINT) AS med_bucket,
         CAST(min(n) AS BIGINT) AS n
  FROM cum WHERE cum >= (n + 1) // 2 GROUP BY scope
)
SELECT scope, n, med_bucket,
       med_bucket * {QSK_WIDTH} + {QSK_WIDTH // 2} AS est_median_cents
FROM med
""",
)
def q_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-priority equi-width histograms of
    order value (256 x $2,500 buckets), with the global median estimated
    from the MERGED histogram — merged by vector addition of the group
    sketches, never a rescan or a global sort. This is the quantile
    sibling of q_sketch_union's distinct-count merge: a 1000-shard
    deployment ships B integers per shard and the combiner adds them.
    Median rule: smallest bucket whose cumulative count reaches
    ceil(n/2); estimate = bucket midpoint (bucket granularity is the
    sketch's documented accuracy bound — halve the width to halve it).

    All-integer arithmetic (cents, counts, floor divisions), identical
    in the oracle. Scale shape: one map-side-combinable histogram
    groupBy over the scan; every window after it runs over at most
    B x (groups + 1) sketch rows — corpus-independent."""
    o = load_table(spark, sf_dir, "orders")
    hist = (
        o.select(
            "o_orderpriority",
            F.least(
                F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) div {QSK_WIDTH}"),
                F.lit(QSK_BUCKETS - 1),
            ).cast("long").alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grp = hist.select(
        F.col("o_orderpriority").alias("scope"), "bucket", "cnt"
    ).unionByName(
        hist.groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("scope"), "bucket", "cnt")
    )
    wcum = Window.partitionBy("scope").orderBy("bucket")
    wall = Window.partitionBy("scope")
    cum = grp.select(
        "scope",
        "bucket",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    med = (
        cum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("scope")
        .agg(F.min("bucket").alias("med_bucket"), F.min("n").alias("n"))
    )
    return med.select(
        "scope",
        "n",
        "med_bucket",
        (F.col("med_bucket") * QSK_WIDTH + QSK_WIDTH // 2).alias(
            "est_median_cents"
        ),
    )


# --- theta-style KMV sketch intersection -------------------------------
#
# The union merge (q_sketch_union) shows bottom-K sketches combine by
# set-union of retained hashes; intersections need the theta trick
# (Dasgupta et al., "Theta Sketch Framework"): each sketch's threshold
# theta is 1 when unsaturated (k_used < K) else its kth (largest
# retained) hash value; the pair estimate counts retained hashes common
# to BOTH sketches that fall strictly below theta = min(theta_a,
# theta_b), scaled by 1/theta. Everything stays exact BIGINT on the
# 2^52 hex13 scale (_KMV_HEX_V idiom), so DuckDB replays the estimator
# bit-for-bit.
_KMV_FULL = 1 << 52


@query(
    "q_sketch_intersect",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT l_returnflag AS flag, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
),
bottom AS (
  SELECT flag, h,
         row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
  FROM hashes
),
kept AS (SELECT flag, h FROM bottom WHERE rn <= {KMV_K}),
thr AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS k_used,
         CASE WHEN count(*) < {KMV_K} THEN {_KMV_FULL}
              ELSE ({hex13_sql("max(h)")}) END AS v_thr
  FROM kept GROUP BY flag
),
pairs AS (
  SELECT ta.flag AS flag_a, tb.flag AS flag_b,
         least(ta.v_thr, tb.v_thr) AS theta_v
  FROM thr ta JOIN thr tb ON ta.flag < tb.flag
),
common AS (
  SELECT a.flag AS flag_a, b.flag AS flag_b, a.h,
         ({hex13_sql("a.h")}) AS vh
  FROM kept a JOIN kept b ON a.h = b.h AND a.flag < b.flag
),
stats AS (
  SELECT p.flag_a, p.flag_b,
         CAST(count(*) FILTER (WHERE c.vh < p.theta_v) AS BIGINT) AS n_common
  FROM pairs p JOIN common c
    ON p.flag_a = c.flag_a AND p.flag_b = c.flag_b
  GROUP BY p.flag_a, p.flag_b
)
SELECT p.flag_a, p.flag_b,
       CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common,
       p.theta_v,
       CAST(coalesce(s.n_common, 0) * {_KMV_FULL} // p.theta_v AS BIGINT)
         AS est_intersect
FROM pairs p LEFT JOIN stats s
  ON p.flag_a = s.flag_a AND p.flag_b = s.flag_b
ORDER BY p.flag_a, p.flag_b
""",
)
def q_sketch_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch intersection estimate for every pair of
    l_returnflag order populations: how many distinct orders carry BOTH
    flags, estimated from two bottom-K sketches alone — the set
    operation inclusion-exclusion gets catastrophically wrong at low
    overlap, done the way production sketch libraries do it.

    theta per sketch is 2^52 (i.e. 1.0) when the sketch is unsaturated
    — then the estimate degrades gracefully to the exact common count —
    else the kth retained hash value; the pair estimate is
    n_common_below_theta * 2^52 div min(theta), all positive BIGINT so
    Spark's `div` == DuckDB's `//`. The output universe is the full
    flag-pair cross product (|flags| choose 2, from the broadcast-sized
    threshold table), so a pair whose sketches share zero retained
    hashes still emits an honest est_intersect = 0 row instead of
    silently vanishing. The exact-intersection audit lives in the test
    suite (test_properties.test_sketch_intersect_tracks_exact), NOT
    here: the shipped estimator is sketch-sized end-to-end — after the
    one distinct-hash shuffle and the salted two-level bottom-K build
    (_kmv_bottom_k), every join input is at most |flags| x K rows,
    shipped from 1000 shards exactly like the q_sketch_union merge."""
    # the memoized session sketch (identical rows — only the key column
    # name differs); before the memo the thr/a/b branches re-ran the
    # corpus pass three times
    kept = kmv_flag_sketch_for(spark, sf_dir).select(
        F.col("l_returnflag").alias("flag"), "h"
    )
    hex13 = lambda c: F.conv(F.substring(c, 1, 13), 16, 10).cast("long")  # noqa: E731
    thr = kept.groupBy("flag").agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth")
    ).select(
        "flag",
        F.when(F.col("k_used") < KMV_K, F.lit(_KMV_FULL))
        .otherwise(hex13(F.col("kth")))
        .alias("v_thr"),
    )
    ta = thr.select(F.col("flag").alias("flag_a"), F.col("v_thr").alias("va"))
    tb = thr.select(F.col("flag").alias("flag_b"), F.col("v_thr").alias("vb"))
    pairs = (
        ta.join(tb, F.col("flag_a") < F.col("flag_b"))
        .select("flag_a", "flag_b", F.least("va", "vb").alias("theta_v"))
    )
    a = kept.select(F.col("flag").alias("flag_a"), "h")
    b = kept.select(F.col("flag").alias("flag_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("flag_a") < F.col("flag_b"))
        .withColumn("vh", hex13(F.col("h")))
    )
    stats = (
        common.join(F.broadcast(pairs), ["flag_a", "flag_b"])
        .groupBy("flag_a", "flag_b")
        .agg(
            F.count(F.when(F.col("vh") < F.col("theta_v"), 1)).alias("n_common")
        )
    )
    return (
        pairs.join(stats, ["flag_a", "flag_b"], "left")
        .select(
            "flag_a",
            "flag_b",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            "theta_v",
            F.expr(
                f"coalesce(n_common, 0) * {_KMV_FULL} div theta_v"
            ).alias("est_intersect"),
        )
        .orderBy("flag_a", "flag_b")
    )


@query(
    "q_chisq_independence",
    oracle="""
WITH obs AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
rows_ AS (SELECT rf, CAST(sum(n) AS BIGINT) AS r_tot FROM obs GROUP BY rf),
cols_ AS (SELECT ls, CAST(sum(n) AS BIGINT) AS c_tot FROM obs GROUP BY ls)
SELECT o.rf, o.ls, o.n, r.r_tot, c.c_tot,
       round(CAST(o.n * t.total - r.r_tot * c.c_tot AS DOUBLE)
             * CAST(o.n * t.total - r.r_tot * c.c_tot AS DOUBLE)
             / (CAST(r.r_tot AS DOUBLE) * CAST(c.c_tot AS DOUBLE)
                * CAST(t.total AS DOUBLE)),
             6) AS chi2_term
FROM obs o
JOIN rows_ r ON o.rf = r.rf
JOIN cols_ c ON o.ls = c.ls
CROSS JOIN tot t
ORDER BY o.rf, o.ls
""",
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells for the returnflag x
    linestatus contingency table: observed count, marginals, and each
    cell's chi-square contribution ((obs - exp)^2 / exp, computed as
    (obs*N - R*C)^2 / (R*C*N) so the difference is taken in EXACT
    BIGINT before the one double division — the float subtraction of
    two near-equal expectations is where naive implementations lose
    cross-engine determinism).

    Scale shape: one map-side-combinable groupBy collapses the corpus
    to the k x m cell table (6 rows here); marginals and the total are
    windows/joins over those 6 rows (broadcast by construction). obs*N
    stays exact BIGINT through ~2^63/N rows; the chi2 statistic itself
    is sum(chi2_term) over the bounded cell set."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    rows_ = obs.groupBy("rf").agg(F.sum("n").alias("r_tot"))
    cols_ = obs.groupBy("ls").agg(F.sum("n").alias("c_tot"))
    d = F.col("n") * F.col("total") - F.col("r_tot") * F.col("c_tot")
    return (
        obs.join(F.broadcast(rows_), "rf")
        .join(F.broadcast(cols_), "ls")
        .crossJoin(F.broadcast(tot))
        .select(
            "rf",
            "ls",
            "n",
            "r_tot",
            "c_tot",
            F.round(
                d.cast("double")
                * d.cast("double")
                / (
                    F.col("r_tot").cast("double")
                    * F.col("c_tot").cast("double")
                    * F.col("total").cast("double")
                ),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("rf", "ls")
    )
