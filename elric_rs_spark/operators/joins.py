"""Joins (SURVEY.md X1-X4).

Scale stance: dimension tables (region/nation/customer/supplier/part) are
broadcast — at 100 TB the fact side (lineitem/orders) never shuffles for
these joins. Fact-fact joins (lineitem ⋈ orders) shuffle on the key; AQE
handles skew splitting. `broadcast()` hints are explicit where we know the
side is dimension-sized, so the plan survives stale statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from elric_rs_spark.buildlog import pin
from elric_rs_spark.registry import query
from elric_rs_spark.tables import load_table


@query(
    "q_join_broadcast",
    oracle="""
SELECT
  c.c_mktsegment,
  count(*) AS n_orders,
  round(sum(o.o_totalprice), 2) AS sum_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with an explicit broadcast of the dimension side (X1).

    Plan check: BroadcastHashJoin, no shuffle of `orders` for the join.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "q_join_multiway",
    oracle="""
SELECT
  r.r_name,
  n.n_name,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  count(*) AS n_lineitems
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join, TPC-H Q5 shape (X2).

    lineitem ⋈ orders is the only fact-fact edge (shuffle or, post-AQE,
    broadcast if the filtered orders side is small); customer/nation/region
    are broadcast. The o_orderdate filter is pushed to the orders scan.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (X3): customers having at least one big order.
    Semi joins never duplicate the left side — cheaper than join+distinct."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (X3): customers with no finished order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_outer",
    oracle="""
SELECT
  c.c_custkey,
  c.c_name,
  count(o.o_orderkey) AS n_orders,
  round(coalesce(sum(o.o_totalprice), 0.0), 2) AS sum_price
FROM customer c
LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name
""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join (X4) preserving customers with zero matching orders.
    The date predicate lives in the join condition (not WHERE) so it cannot
    silently convert the outer join to inner."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (
        o.o_orderdate >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, cond, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("sum_price"),
        )
    )


@query(
    "q_join_fullouter",
    oracle="""
WITH big_cust AS (
  SELECT o_custkey, count(*) AS n_big
  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
),
old_cust AS (
  SELECT o_custkey, count(*) AS n_old
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY o_custkey
)
SELECT
  coalesce(b.o_custkey, d.o_custkey) AS custkey,
  coalesce(b.n_big, 0) AS n_big,
  coalesce(d.n_old, 0) AS n_old
FROM big_cust b
FULL OUTER JOIN old_cust d ON b.o_custkey = d.o_custkey
""",
)
def q_join_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (X4) of two aggregated views of orders."""
    o = load_table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    old = (
        o.filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    b, d = big.alias("b"), old.alias("d")
    return b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer").select(
        F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias("custkey"),
        F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big"),
        F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
    )


@query(
    "q_join_salted",
    oracle="""
SELECT
  c.c_mktsegment AS segment,
  count(*) AS n_orders,
  round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (the 100 TB hot-key pattern), oracle-checked
    against the plain join: replicate the dimension SALT ways, scatter the
    fact side across salt buckets, join on (key, salt) — the hot key's
    rows spread over SALT reducers instead of melting one. Correctness is
    salt-invariant by construction (the oracle is the UNSALTED join), and
    the shuffle-key shape is held by tests/test_scale_patterns.py."""
    from elric_rs_spark.functions.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, "custkey", salt=8)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "q_join_star",
    oracle="""
SELECT
  n.n_name AS nation,
  p.p_brand AS brand,
  count(*) AS n_items,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
    AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_size <= 20
GROUP BY n.n_name, p.p_brand
""",
)
def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema fact join (TPC-H Q9 shape): lineitem against three
    broadcast dimensions (part filtered, supplier, nation). At 100 TB the
    fact table never shuffles before the aggregate — every dimension ships
    to the executors and the p_size predicate pushes into the part scan;
    the only shuffle is the final (nation, brand) rollup with map-side
    partial aggregation.

    Revenue sums INTEGER CENTS (per-row round, then exact long sum):
    summing doubles is order-dependent across engines and a 2dp rounding
    of the total flips at ULP boundaries (observed on this very query);
    per-row rounding before an integer sum is order-independent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20).select(
        "p_partkey", "p_brand"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


@query(
    "q_ship_priority",
    oracle="""
SELECT l.l_returnflag,
       CAST(count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS BIGINT) AS high_line_count,
       CAST(count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= DATE '1995-01-01'
GROUP BY l.l_returnflag
""",
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join with conditional counts — lines
    shipped since a date, split into high/low order-priority counts per
    return flag. The date predicate pushes to the lineitem scan
    (PushedFilters), the join keys on l_orderkey/o_orderkey (both sides
    shuffle once on the same uniform key — at 100 TB both tables would be
    BUCKETED on orderkey and the exchange disappears), and the
    conditional counts are map-side-combined CASE aggregates, not two
    passes."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@query(
    "q_promo_share",
    oracle="""
SELECT
  CAST(sum(CASE WHEN p.p_type = 'PROMO'
       THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
       ELSE 0 END) AS BIGINT) AS promo_cents,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
       AS BIGINT) AS total_cents,
  round(CAST(sum(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
        ELSE 0 END) AS DOUBLE)
      / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)),
      6) AS promo_share
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. Revenue accumulates as
    exact integer cents on both engines (order-independent), the single
    float division happens once at the end and is rounded identically.
    The part dimension broadcasts (no fact shuffle before the 1-row
    aggregate); p_type could prune to a dictionary filter scan-side at
    real scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    agg = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        F.round(
            F.col("promo_cents").cast("double") / F.col("total_cents"), 6
        ).alias("promo_share"),
    )


@query(
    "q_min_cost_supplier",
    oracle="""
WITH costs AS (
  SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
         CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
  FROM part p
  JOIN supplier s ON (p.p_partkey % 100) = (s.s_suppkey % 100)
  WHERE p.p_size >= 30
),
best AS (
  SELECT p_partkey, p_brand, s_suppkey, s_name, bal_cents,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY bal_cents DESC, s_suppkey) AS rn
  FROM costs
)
SELECT p_partkey, p_brand, s_suppkey AS best_suppkey,
       s_name AS best_supplier, bal_cents
FROM best WHERE rn = 1
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the best supplier under a correlated
    extremum (Q2's min(ps_supplycost); here max account balance over a
    deterministic part-supplier affinity since the synthetic schema has
    no partsupp table). The decorrelated plan is the point: never a
    correlated subquery per row.

    ROUND-11 rewrite (the batch-C decade caught the old form at
    18.9x/decade, 11 s -> 208 s): the extremum's partition key
    (p_partkey) is functionally determined by the JOIN key (aff), so
    the per-part answer equals the per-AFF answer — pre-aggregate the
    supplier side to ONE max(struct(bal, -suppkey, payload)) row per
    aff BEFORE the join (map-side combinable over |supplier| rows),
    then broadcast the 100-row best table to the part scan. The old
    form joined first (|part| x |supplier|/100 rows — QUADRATIC in sf
    because the affinity domain is a schema constant) and aggregated
    after. General rule this encodes: when an extremum-join's partition
    key is implied by the equi-join key, push the aggregate below the
    join — Catalyst cannot see this through the struct max. At 100 TB
    with a real partsupp fact the same pre-aggregation keys on
    ps_partkey and both sides bucket on partkey."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 30).select(
        "p_partkey", "p_brand", (F.col("p_partkey") % 100).alias("aff")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 100).alias("aff"),
        F.struct(
            F.round(F.col("s_acctbal") * 100).cast("long").alias("bal"),
            (-F.col("s_suppkey")).alias("neg_key"),
            F.col("s_suppkey").alias("s_suppkey"),
            F.col("s_name").alias("s_name"),
        ).alias("cand"),
    )
    best_per_aff = s.groupBy("aff").agg(F.max("cand").alias("b"))
    return p.join(F.broadcast(best_per_aff), "aff").select(
        "p_partkey",
        "p_brand",
        F.col("b.s_suppkey").alias("best_suppkey"),
        F.col("b.s_name").alias("best_supplier"),
        F.col("b.bal").alias("bal_cents"),
    )


@query(
    "q_supplier_cnt",
    oracle="""
SELECT p.p_brand, p.p_type,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type
""",
)
def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type),
    excluding an anti-joined supplier set (Q16's complaint suppliers;
    here negative-balance ones). NOT IN over a nullable-free key plans
    as a broadcast left-anti join — the excluded set is tiny and ships
    to every executor; the fact table never shuffles for the exclusion.
    count(DISTINCT) rides the (brand, type) aggregate with Spark's
    two-phase distinct expansion."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1").select(
        "p_partkey", "p_brand", "p_type"
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_key")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.bad_key, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_disjunctive_pred",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 40
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive brand/size/quantity
    clauses across BOTH join sides. The optimizer lesson Q19 exists to
    teach: Catalyst factors the single-side conjuncts out of the OR —
    the part scan receives `p_brand IN (...)` and a p_size range, the
    lineitem scan an l_quantity range (visible as PushedFilters), so
    neither table is fully scanned even though the user wrote one big
    OR. The residual mixed-side disjunction evaluates inside the
    broadcast hash join. Expressed declaratively — no manual
    three-branch union that would scan the fact table three times."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 40)
        )
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return j.filter(clause).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(cents).alias("revenue_cents"),
    )


@query(
    "q_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS volume_cents
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_18')
    OR (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_3'))
GROUP BY supp_nation, cust_nation, o_year
""",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade volume between
    two nations by year. The nation pair predicate is applied to each
    SIDE before the fact-fact join — the supplier broadcast prunes
    lineitem to two nations' suppliers and the customer broadcast
    prunes orders likewise, so the one orderkey shuffle joins two
    pre-filtered facts; the disjunctive pair condition then runs
    row-local. supplier/nation broadcast (dimension-sized); customer
    is broadcast here but shuffles against orders at 100 TB — the
    filter-before-join structure is what survives the scale-up."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_3", "NATION_18")
    sn = (
        s.join(broadcast(n.filter(F.col("n_name").isin(*pair))),
               s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        c.join(broadcast(n.filter(F.col("n_name").isin(*pair))),
               c.c_nationkey == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(
            o.join(broadcast(cn), o.o_custkey == cn.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(cents).alias("volume_cents"))
    )


@query(
    "q_market_share",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           AS cents,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'EUROPE'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
            AS BIGINT) AS nation_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
                  AS DOUBLE) / sum(cents), 6) AS mkt_share
FROM rev GROUP BY o_year
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    STANDARD-part revenue sold into EUROPE customers, by order year.
    Every dimension (part-type filter, supplier→nation, customer→
    nation→region) broadcasts; the only shuffle is lineitem⋈orders on
    orderkey plus the 7-group final aggregate. The share division
    happens once per group over exact integer cents, rounded to 6dp
    identically on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = s.join(
        broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    ceur = (
        c.join(
            broadcast(
                n.select("n_nationkey", "n_regionkey").join(
                    broadcast(r.select("r_regionkey")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    rev = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o.join(broadcast(ceur), o.o_custkey == ceur.c_custkey),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("cents"),
            "supp_nation",
        )
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(F.lit(0))
    )
    agg = rev.groupBy("o_year").agg(
        nation_cents.alias("nation_cents"),
        F.sum("cents").alias("total_cents"),
    )
    return agg.select(
        "o_year",
        "nation_cents",
        "total_cents",
        F.round(
            F.col("nation_cents").cast("double") / F.col("total_cents"), 6
        ).alias("mkt_share"),
    )


@query(
    "q_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
""",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a half-year window. Return-flag and
    date filters prune BOTH fact scans before the orderkey shuffle
    join; customer/nation broadcast onto the aggregate output (one row
    per customer), not onto the fact. The top-20 is TakeOrdered
    (per-partition heads → driver merge, no global sort) and
    tie-breaks on c_custkey for deterministic membership."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    return (
        per_cust.join(broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


# --- Bloom-filter join reduction (portable, auditable) ----------------
#
# An explicit relational Bloom filter: hash the (filtered) dim side's
# join keys into a fixed m = 2^20 bucket space with k = 2 independent
# Carter-Wegman mixes of md5-derived halves (the dedup.py portable-hash
# idiom), keep the DISTINCT bucket sets (each bounded at m rows no
# matter how large the dim side grows — unlike broadcasting the key set
# itself), broadcast them, and pre-filter the fact side with two
# broadcast semi-joins BEFORE the exact key join. Spark's optimizer does
# this implicitly when spark.sql.optimizer.runtime.bloomFilter.enabled
# kicks in; this operator makes the reduction explicit, portable (DuckDB
# replays the identical integer arithmetic) and auditable — the query
# RESULT is the audit row proving how many fact rows the filter passed
# and how many of those were false positives.
# m sizing: the round-7 third decade caught 2^16 SATURATING at sf3
# (448,710 dim keys -> n_bits 65,455/65,536 = 99.9% full, prefilter
# passing 99.8% of 18M fact rows — the pass-rate GROWS with scale, so
# the downstream exact semi-join's shuffle input grows superlinearly
# until saturation). 2^20 holds fill <= ~35% through sf3 (FPR ~12%)
# and the DISTINCT position broadcasts stay <= ~4 MB; at 100 TB keep
# sizing m ~2-4 bits per expected dim key (DEPLOY.md lever) — the
# audit row's n_false_pos / n_prefilter_pass is the live fill signal.
BLOOM_M = 1 << 20
BLOOM_P = 2_147_483_647  # 2^31 - 1, the dedup.py Carter-Wegman modulus
BLOOM_MIX = ((1_103_515_245, 12_345, 1), (2_654_435_761, 40_503, 97))
BLOOM_PRICE_MIN = 450_000.0  # ~p90 of o_totalprice: ~10% dim selectivity


def _bloom_hex7_sql(expr: str, start: int) -> str:
    """DuckDB twin of F.conv(F.substring(h, start, 7), 16, 10): 7 hex
    chars as a BIGINT < 2^28 (the dedup.py _hex7_sql idiom)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (6 - i)}"
        for i in range(7)
    )


def _bloom_pos_sql(j: int) -> str:
    a, b, c = BLOOM_MIX[j]
    return f"({a} * xa + {b} * xb + {c}) % {BLOOM_P} % {BLOOM_M}"


def _bloom_xv_sql(key: str, src: str) -> str:
    h = f"md5(CAST({key} AS VARCHAR))"
    return f"""SELECT {key} AS k,
         ({_bloom_hex7_sql(h, 1)}) AS xa,
         ({_bloom_hex7_sql(h, 8)}) AS xb
  FROM {src}"""


def _bloom_positions(df: DataFrame, key: str) -> DataFrame:
    """(k, pos0, pos1) for each row of `df` — scan-local md5 + integer
    mixing, all inside whole-stage codegen."""
    h = F.md5(F.col(key).cast("string"))
    xa = F.conv(F.substring(h, 1, 7), 16, 10).cast("long")
    xb = F.conv(F.substring(h, 8, 7), 16, 10).cast("long")
    out = df.select(F.col(key).alias("k"), xa.alias("xa"), xb.alias("xb"))
    for j, (a, b, c) in enumerate(BLOOM_MIX):
        out = out.withColumn(
            f"pos{j}",
            (F.lit(a) * F.col("xa") + F.lit(b) * F.col("xb") + F.lit(c))
            % BLOOM_P
            % BLOOM_M,
        )
    return out.drop("xa", "xb")


@query(
    "q_join_bloom",
    oracle=f"""
WITH dk AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {BLOOM_PRICE_MIN}
),
dxv AS ({_bloom_xv_sql("o_orderkey", "dk")}),
dp AS (
  SELECT k, {_bloom_pos_sql(0)} AS pos0, {_bloom_pos_sql(1)} AS pos1
  FROM dxv
),
bits0 AS (SELECT DISTINCT pos0 FROM dp),
bits1 AS (SELECT DISTINCT pos1 FROM dp),
fxv AS ({_bloom_xv_sql("l_orderkey", "lineitem")}),
fp AS (
  SELECT k, {_bloom_pos_sql(0)} AS pos0, {_bloom_pos_sql(1)} AS pos1
  FROM fxv
),
pass AS (
  SELECT k FROM fp
  WHERE pos0 IN (SELECT pos0 FROM bits0)
    AND pos1 IN (SELECT pos1 FROM bits1)
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM dk) AS n_dim_keys,
  (SELECT CAST(count(*) AS BIGINT) FROM bits0) AS n_bits0,
  (SELECT CAST(count(*) AS BIGINT) FROM bits1) AS n_bits1,
  (SELECT CAST(count(*) AS BIGINT) FROM fp) AS n_fact_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM pass) AS n_prefilter_pass,
  (SELECT CAST(count(*) AS BIGINT) FROM pass
   WHERE k IN (SELECT o_orderkey FROM dk)) AS n_matched,
  (SELECT CAST(count(*) AS BIGINT) FROM pass)
    - (SELECT CAST(count(*) AS BIGINT) FROM pass
       WHERE k IN (SELECT o_orderkey FROM dk)) AS n_false_pos
""",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join reduction, as a one-row audit: pre-filter the
    fact side against a 2^20-bucket / 2-hash Bloom filter built from
    the high-value-order keys, then count how many fact rows the filter
    passed vs how many truly join — the false-positive overhead the
    reduction trades for never shuffling unmatched fact rows.

    Scale shape: the two DISTINCT position sets are bounded at
    m = 1,048,576 rows EACH no matter how many dim keys exist (the whole
    point vs broadcasting the key set), so both semi-joins broadcast by
    construction; the fact side is pruned scan-locally (md5 + integer
    mixing in whole-stage codegen, then two broadcast semi-joins — no
    shuffle) before the exact key membership check. At this operator's
    configured ~10% dim selectivity (BLOOM_PRICE_MIN ~ p90) it drops
    ~90% of fact rows before the join exchange — and proportionally
    more under tighter dim filters; AQE's runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) is the implicit
    form of the same plan, and this md5-portable variant is what the
    engine uses when the filter must be persisted or replayed
    cross-engine (DuckDB reproduces every count bit-for-bit).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = o.filter(F.col("o_totalprice") > BLOOM_PRICE_MIN).select("o_orderkey")
    dp = _bloom_positions(dim, "o_orderkey")
    bits0 = dp.select("pos0").distinct()
    bits1 = dp.select("pos1").distinct()
    fp = _bloom_positions(li.select("l_orderkey"), "l_orderkey")
    # Branch shape deliberately kept as THREE column-pruned fact scans
    # (n_fact_rows / n_prefilter_pass / n_matched): a round-7 experiment
    # replaced them with one scan carrying the dim table as a full-width
    # LEFT join and measured 3.3x SLOWER at sf1 — the unfiltered dim
    # join shuffles every fact row, where this shape's semi-join only
    # sees what the broadcast prefilter passes: pass rate =
    # selectivity + FPR*(1-selectivity), measured 10.0% at sf0.1 /
    # 11.5% at sf1 (ADVICE r07: an earlier "~2%" note here was a
    # misremembered figure), bounded ~21% at sf3 where fill reaches
    # ~35% (FPR ~ fill^2 ~ 12%). Column-pruned scans are
    # embarrassingly parallel; shuffles are the scarce resource at
    # 100 TB. Scans stay scan-local + broadcast-joined, no exchange.
    # r11: the old six-branch audit recomputed its subtrees per count —
    # the 600k-row md5-position pass over lineitem ran FIVE times (fp,
    # passed, matched and their count branches) and dominated the wall
    # (~4.2 s steady at sf0.1). Restructured to flag columns + shared
    # passes (guide §1.2 "don't compute things you throw away"):
    # - the two broadcast semi-joins become broadcast LEFT marker joins
    #   (bits0/bits1 are DISTINCT, so no row multiplication — identical
    #   membership semantics) and n_fact_rows / n_prefilter_pass fold
    #   into ONE aggregate over that pass;
    # - the fact position pass is materialized once (DISK_ONLY: fact-
    #   proportional) and feeds both the flag aggregate and the exact
    #   membership check, which still joins ONLY prefilter-passed rows
    #   against dim — the shape the round-7 experiment proved (never
    #   shuffle unmatched fact rows).
    # All six counts are value-identical to the branch form.
    f = pin(
        fp.join(broadcast(bits0.withColumn("b0", F.lit(1))), "pos0", "left")
        .join(broadcast(bits1.withColumn("b1", F.lit(1))), "pos1", "left")
        .select(
            "k",
            (F.col("b0").isNotNull() & F.col("b1").isNotNull()).alias("pass_"),
        )
    )
    fact_stats = f.agg(
        F.count(F.lit(1)).alias("n_fact_rows"),
        F.sum(F.when(F.col("pass_"), 1).otherwise(0))
        .cast("long")
        .alias("n_prefilter_pass"),
    )
    # no broadcast hint on dim: its cardinality is data-dependent (a
    # price-filtered fact subset, ~10% of orders) — let AQE choose
    matched = f.filter(F.col("pass_")).join(
        dim, f["k"] == dim["o_orderkey"], "left_semi"
    )
    counts = [
        dim.agg(F.count(F.lit(1)).alias("n_dim_keys")),
        bits0.agg(F.count(F.lit(1)).alias("n_bits0")),
        bits1.agg(F.count(F.lit(1)).alias("n_bits1")),
        fact_stats,
        matched.agg(F.count(F.lit(1)).alias("n_matched")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(broadcast(c))
    return out.withColumn(
        "n_false_pos", F.col("n_prefilter_pass") - F.col("n_matched")
    )
