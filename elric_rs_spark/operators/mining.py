"""Sequence / basket mining analytics: Markov transition matrices,
association rules, and last-touch attribution.

The reference engine ships event streams into ClickHouse and leaves
this layer to downstream SQL (SURVEY.md §2.3 — its `events`-style
tables are exactly the input shape here); a standalone engine owns the
canonical versions. All three operators share one scale shape: a
single shuffle that puts each entity's history on one partition
(user_id for the sequence ops, order key for baskets), then a
fixed-cardinality aggregate — the output is k x k transition cells or
brand-pair rules regardless of corpus size, so only the first exchange
is data-proportional.

Everything is exact integer/cents arithmetic plus one final
round-6dp ratio, so DuckDB replays each query bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elric_rs_spark.buildlog import pin
from elric_rs_spark.registry import query
from elric_rs_spark.tables import load_table

# association-rule gate: pair support >= 1.5% of baskets (permille form
# so the threshold is integer arithmetic on both engines)
RULE_MIN_SUPPORT_PERMILLE = 15


@query(
    "q_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type AS src, next_type AS dst,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT src, dst, n_trans,
       round(CAST(n_trans AS DOUBLE)
             / CAST(sum(n_trans) OVER (PARTITION BY src) AS DOUBLE),
             6) AS p
FROM t
ORDER BY src, dst
""",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type).

    Sequence order is (ts, event_id) — event_id is unique, so the
    per-user total order (and therefore every lead() pair) is
    deterministic on both engines. One shuffle puts each user's
    history on one partition for the lag window; the transition count
    groupBy is map-side combined into at most k^2 = 25 cells, and the
    row-normalizing sum runs over those 25 rows. At 100 TB the only
    data-proportional stage is the user_id exchange; power-user skew
    splits under AQE like any keyed window, and the output stays k^2
    regardless of corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    # row-normalize over the 25-cell matrix: bounded set, same pattern
    # as the other post-aggregation windows documented in BASELINE.md
    row = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(row).cast("double"),
            6,
        ).alias("p"),
    ).orderBy("src", "dst")


@query(
    "q_assoc_rules",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
tot AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob
),
supp AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_brand FROM ob GROUP BY brand
),
pr AS (
  SELECT a.brand AS antecedent, b.brand AS consequent,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand <> b.brand
  GROUP BY a.brand, b.brand
)
SELECT antecedent, consequent, n_both,
       sa.n_brand AS n_ante, sb.n_brand AS n_cons,
       round(CAST(n_both AS DOUBLE) / t.n_orders, 6) AS support,
       round(CAST(n_both AS DOUBLE) / sa.n_brand, 6) AS confidence,
       round(CAST(n_both AS DOUBLE) * t.n_orders
             / (sa.n_brand * sb.n_brand), 6) AS lift
FROM pr
JOIN supp sa ON pr.antecedent = sa.brand
JOIN supp sb ON pr.consequent = sb.brand
CROSS JOIN tot t
WHERE n_both * 1000 >= {RULE_MIN_SUPPORT_PERMILLE} * t.n_orders
ORDER BY antecedent, consequent
""",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (A-priori 2-itemsets at the
    brand grain): support, confidence and lift for every directed brand
    pair co-ordered in >= 1.5% of baskets.

    Scale shape (r8 rework killed the distinct + okey self-join's three
    corpus exchanges; r11 rework killed the collect_set object
    aggregation — see the bitmask comment below): the basket table is
    ONE corpus shuffle, a plain BIGINT bit_or per order over the
    schema-bounded brand dictionary (k <= 63, loudly guarded); every
    rule statistic then derives from the <= min(|orders|, 2^k)-row
    distinct-mask histogram via k-row broadcast-dictionary probes —
    corpus-independent work after two map-side-combined shuffles. The
    support gate is integer permille arithmetic
    (`n_both * 1000 >= t * n_orders`) so both engines apply the exact
    same cut; ratios are single-division round-6dp doubles on exact
    integers (< 2^53).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # r11 bitmask rework (guide §2.2 narrower types / §2.3 aggregate
    # early; sf10 decade catch). The r8 collect_set basket build hit
    # ObjectHashAggregate's sort-based fallback at scale (default
    # fallbackThreshold=128 distinct keys/partition << 15M baskets at
    # sf10): the corpus aggregate degenerated into a 60M-row sort of
    # set objects — isolated sf10 measured 85-108 s for the build alone
    # (18x/decade). The brand domain is a SCHEMA-BOUNDED dictionary
    # (~25 values, loudly guarded <= 63), so a basket is ONE BIGINT
    # bitmask: bit_or is a plain codegen HashAggregate (map-side
    # combined, 8 bytes/basket, no object aggregation, no fallback
    # cliff — same build measured 15.3 s), and every downstream stat
    # needs only the DISTINCT-mask histogram: tot/supp/pair counts are
    # broadcast-dictionary probes over <= |distinct masks| rows, exact
    # integers end to end. Same values: the mask encodes exactly the
    # old collect_set, the dictionary joins map bits back to the same
    # brand strings.
    from pyspark.sql import Window as _W

    bdict = (
        part.select("p_brand").distinct()
        .withColumn("bidx", F.row_number().over(_W.orderBy("p_brand")) - 1)
        # loud in-plan guard: a 64th brand would silently wrap shiftleft
        .withColumn(
            "bidx",
            F.when(
                F.expr(
                    "assert_true(bidx <= 62, 'q_assoc_rules: brand "
                    "cardinality exceeds the 63-bit basket mask')"
                ).isNull(),
                F.col("bidx"),
            ),
        )
    )
    # NOTE: the inner join on p_brand assumes p_brand IS NOT NULL (true
    # for TPC-H part). A NULL-brand part would drop out of the dictionary
    # join, so an order whose lineitems ALL carried NULL brands would no
    # longer count toward n_orders (the old collect_set form counted it
    # as an empty basket). Assumption lives next to the 63-brand mask
    # guard above; revisit if a nullable brand source is ever wired in.
    baskets = (
        li.join(
            F.broadcast(
                part.select("p_partkey", "p_brand").join(
                    F.broadcast(bdict), "p_brand"
                ).select("p_partkey", "bidx")
            ),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), "bidx")
        .groupBy("okey")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bidx))").alias("mask")
        )
    )
    # the distinct-mask histogram is the ONLY materialized intermediate:
    # <= min(|orders|, 2^|brands|) rows, consumed by tot + supp + pairs
    mcount = pin(baskets.groupBy("mask").agg(F.count(F.lit(1)).alias("n_baskets")))
    tot = mcount.agg(F.sum("n_baskets").alias("n_orders"))
    # supp is <= |brands| rows but consumed twice (antecedent and
    # consequent broadcasts) — pin the tiny aggregate so the mask probe
    # runs once, not twice.
    supp = pin(
        mcount.join(
            F.broadcast(bdict), F.expr("((mask >> bidx) & 1) = 1")
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("n_baskets").alias("n_brand"))
    )
    ba = bdict.select(F.col("p_brand").alias("antecedent"), F.col("bidx").alias("ia"))
    bc = bdict.select(F.col("p_brand").alias("consequent"), F.col("bidx").alias("ic"))
    pr = (
        mcount.join(F.broadcast(ba), F.expr("((mask >> ia) & 1) = 1"))
        .join(
            F.broadcast(bc),
            F.expr("((mask >> ic) & 1) = 1 AND ic != ia"),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.sum("n_baskets").alias("n_both"))
    )
    sa = F.broadcast(supp.select(F.col("brand").alias("antecedent"), F.col("n_brand").alias("n_ante")))
    sb = F.broadcast(supp.select(F.col("brand").alias("consequent"), F.col("n_brand").alias("n_cons")))
    return (
        pr.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("n_both") * 1000 >= RULE_MIN_SUPPORT_PERMILLE * F.col("n_orders")
        )
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            F.round(F.col("n_both").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("n_both").cast("double") / F.col("n_ante"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("n_ante") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


@query(
    "q_attribution",
    oracle="""
WITH u AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END AS cents
  FROM events
),
lt AS (
  SELECT *,
         last_value(CASE WHEN is_p = 0 THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_p, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
  FROM u
),
cr AS (
  SELECT coalesce(touch, 'direct') AS channel,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM lt WHERE is_p = 1 GROUP BY coalesce(touch, 'direct')
),
tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents FROM cr)
SELECT channel, n_purchases, revenue_cents,
       round(CAST(revenue_cents AS DOUBLE) / t.total_cents, 6)
         AS revenue_share
FROM cr CROSS JOIN tot t
ORDER BY channel
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits its full
    value (exact cents) to the user's most recent non-purchase event at
    or before the purchase instant; purchases with no prior touch fall
    into the 'direct' channel.

    Same union+window shape as q_join_asof (temporal.py:65): ONE
    shuffle on user_id, then `last(..., ignorenulls)` over the
    (ts, is_p, event_id) order — is_p sorts a same-instant touch
    before the purchase (at-or-before semantics) and unique event_id
    makes the order total, so credit assignment is deterministic on
    both engines. The channel rollup is a <=5-row map-side-combined
    aggregate and the share denominator is a one-row broadcast. At
    100 TB only the user_id exchange is data-proportional.
    """
    ev = load_table(spark, sf_dir, "events")
    is_p = (F.col("event_type") == "purchase").cast("int")
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_p.alias("is_p"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        ).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lt = u.withColumn(
        "touch",
        F.last(
            F.when(F.col("is_p") == 0, F.col("event_type")), ignorenulls=True
        ).over(w),
    )
    cr = (
        lt.filter(F.col("is_p") == 1)
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    tot = cr.agg(F.sum("revenue_cents").alias("total_cents"))
    return (
        cr.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_purchases",
            "revenue_cents",
            F.round(
                F.col("revenue_cents").cast("double") / F.col("total_cents"), 6
            ).alias("revenue_share"),
        )
        .orderBy("channel")
    )
