"""Relational-layer queries: joins, windows, set ops, grouping sets,
as-of join, sessionization (SURVEY.md §2.8 — host-provided in the
reference, native Catalyst here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.operators import relational as R
from fletcher_spark.queries.registry import query


@query(
    "join_semi_exists",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
ORDER BY c_custkey
""",
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS).  The orders side is filtered before the
    join, so at scale the semi-join probe side is small and broadcast."""
    t = load_tables(spark, sf_dir)
    big_orders = t["orders"].filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        R.semi_join(t["customer"], big_orders, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti_not_exists",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
ORDER BY c_custkey
""",
)
def join_anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    t = load_tables(spark, sf_dir)
    big_orders = t["orders"].filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        R.anti_join(t["customer"], big_orders, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name")
    )


@query(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT
    o_custkey,
    o_orderkey,
    o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn,
    dense_rank() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS drk
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window — shuffle on the group key
    only; the reference's argsort+head has no distributed analog."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .withColumn("drk", F.dense_rank().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "drk")
    )


@query(
    "window_running_sum",
    oracle="""
SELECT
  o_custkey,
  o_orderkey,
  round(sum(o_totalprice) OVER (
    PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative aggregate over an explicit ROWS frame (reference
    analog: fletcher fillna/cumulative patterns via pandas)."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .withColumn("running_spend", F.round(F.sum("o_totalprice").over(w), 4))
        .select("o_custkey", "o_orderkey", "running_spend")
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT
  event_id,
  user_id,
  round(value - lag(value)  OVER w, 4) AS delta_prev,
  round(lead(value) OVER w - value, 4) AS delta_next
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
ORDER BY event_id
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over event time.  Ordering key is exact integer
    microseconds (ts_us) so both engines sort identically."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    return (
        t["events"]
        .withColumn("delta_prev", F.round(F.col("value") - F.lag("value").over(w), 4))
        .withColumn("delta_next", F.round(F.lead("value").over(w) - F.col("value"), 4))
        .select("event_id", "user_id", "delta_prev", "delta_next")
    )


@query(
    "rollup_flag_status",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 4) AS sum_qty,
  count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (free in Spark; absent in the reference)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


@query(
    "cube_status_priority",
    oracle="""
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS DOUBLE) / 100.0 AS sum_price,
  count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets.

    The money sum accumulates as exact integer cents (associative
    BIGINT — order-independent, so bit-reproducible at ANY scale and
    partitioning) and converts to double at the end: a double sum is
    accumulation-order-dependent, and at .tmp/sf1 the two engines'
    ~2e-4 errors on a 2.5e10 sum straddled the old round(…,4) boundary
    (…417.5999 vs …417.6, exact value …417.60 — caught r13).  Integer
    (not DECIMAL) accumulation keeps the aggregate on the long-typed
    codegen fast path — see q1_pricing_summary's note for the full
    mechanism (per-row floor(x·100 + 0.5) is unambiguous because the
    doubles are within ~1e-9 of the exact 2-decimal values)."""
    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.sum(cents).cast("double") / 100.0).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "setop_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers holding both open and finished
    orders."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


@query(
    "setop_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
        .orderBy("o_custkey")
    )


@query(
    "union_all_concat",
    oracle="""
SELECT o_orderkey, 'big' AS tag FROM orders WHERE o_totalprice > 450000
UNION ALL
SELECT o_orderkey, 'urgent' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY o_orderkey, tag
""",
)
def union_all_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — the distributed analog of fletcher's
    ``_concat_same_type`` (/root/reference/fletcher/base.py:930-943,
    1309-1326): concatenation is a metadata operation on partition sets.
    """
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    big = o.filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey", F.lit("big").alias("tag")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("tag")
    )
    return big.unionByName(urgent)


@query(
    "asof_join_last_click",
    oracle="""
SELECT
  e1.event_id,
  e1.user_id,
  epoch_us(e1.ts) AS ts_us,
  (SELECT max(epoch_us(e2.ts)) FROM events e2
   WHERE e2.user_id = e1.user_id
     AND e2.event_type = 'click'
     AND e2.ts <= e1.ts) AS last_click_us
FROM events e1
WHERE e1.event_type = 'purchase'
ORDER BY e1.event_id
""",
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach the most recent preceding click to each
    purchase.  Union+window implementation (one shuffle on user_id) —
    the oracle's correlated subquery is the O(n²) spec, not the plan."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.col("ts_us").alias("click_ts_us")
    )
    out = R.asof_join(
        purchases, clicks, ts="ts_us", by="user_id", right_cols={"click_ts_us": "last_click_us"}
    )
    return out.select("event_id", "user_id", "ts_us", "last_click_us")


@query(
    "range_join_follows",
    oracle="""
SELECT e1.event_type AS lead_type, count(*) AS n_follow
FROM events e1
JOIN events e2
  ON e1.user_id = e2.user_id
 AND epoch_us(e2.ts) > epoch_us(e1.ts)
 AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
GROUP BY e1.event_type
ORDER BY e1.event_type
""",
)
def range_join_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events followed by another event of the same user
    within 5 minutes — as a TIME-BUCKETED equi-join, the standard
    bounded-range-join binning.

    Joining on user_id alone (with the range as a residual filter) is
    never a cross product, but its intermediates are Σ n_u² — quadratic
    in each user's event count.  The r8 scale probe measured exactly
    that shape: 6.77 M candidate pairs filtered down to 771 outputs at
    sf0.1 (8,800× waste), 13× wall at 10× data, and at 100 TB a single
    bot user with millions of events would make its partition quadratic.
    Bucketing by ``ts div 5min`` and exploding the LEFT side to the two
    buckets a follower can land in ({b, b+1}, since 0 < t2−t1 ≤ 5 min)
    makes the join key (user_id, bucket): every qualifying pair is
    matched exactly once (the two exploded keys are distinct), the
    range predicate stays as the residual, and candidates shrink to
    same-user events in ADJACENT buckets — temporal-density-
    proportional, 67× fewer here, hot-user-safe.  ``div`` is exact
    int64 arithmetic (no double rounding at epoch-microsecond scale).
    Note ``div`` truncates toward zero rather than flooring, so a
    pre-1970 (negative) ts_us would make bucket 0 double-width; the
    adjacency argument still holds there — consecutive bucket
    boundaries stay ≥ 5 min apart under truncation too, so every
    qualifying pair (diff ≤ 5 min) still lands in {b, b+1} — and the
    test data is all post-1970 anyway."""
    t = load_tables(spark, sf_dir)
    five_min_us = 300 * 1_000_000
    e1 = t["events"].select(
        F.col("user_id"), F.col("ts_us").alias("t1"), F.col("event_type").alias("lead_type")
    )
    e2 = t["events"].select(
        F.col("user_id"),
        F.col("ts_us").alias("t2"),
        F.expr(f"ts_us div {five_min_us}").alias("jb"),
    )
    b1 = F.expr(f"t1 div {five_min_us}")
    e1x = e1.withColumn("jb", F.explode(F.array(b1, b1 + F.lit(1))))
    return (
        e1x.join(e2, ["user_id", "jb"])
        .filter((F.col("t2") > F.col("t1")) & (F.col("t2") <= F.col("t1") + five_min_us))
        .groupBy("lead_type")
        .agg(F.count(F.lit(1)).alias("n_follow"))
        .orderBy("lead_type")
    )


@query(
    "sessionize_events",
    oracle="""
WITH flags AS (
  SELECT
    event_id,
    user_id,
    epoch_us(ts) AS tns,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT
  event_id,
  user_id,
  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tns, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM flags
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute gap) on exact microsecond
    timestamps; batch analog of a session window."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "user_id", "ts_us")
    gap_us = 1800 * 1_000_000
    w_lag = Window.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    w_cum = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(w_lag)
    new_s = F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0)
    return ev.withColumn("session_id", F.sum(new_s).over(w_cum).cast("long")).select(
        "event_id", "user_id", "session_id"
    )


@query(
    "asof_join_tolerance",
    oracle="""
SELECT
  e1.event_id,
  e1.user_id,
  (SELECT max(epoch_us(e2.ts)) FROM events e2
   WHERE e2.user_id = e1.user_id
     AND e2.event_type = 'click'
     AND e2.ts <= e1.ts
     AND e2.ts >= e1.ts - INTERVAL '15 minutes') AS recent_click_us
FROM events e1
WHERE e1.event_type = 'purchase'
""",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with tolerance (pandas merge_asof(tolerance=...)):
    matches older than 15 minutes are nulled.  Same union+window plan as
    the unbounded variant — the tolerance is a post-window mask, not an
    extra shuffle (operators/relational.py:asof_join)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.col("ts_us").alias("click_ts_us")
    )
    out = R.asof_join(
        purchases,
        clicks,
        ts="ts_us",
        by="user_id",
        right_cols={"click_ts_us": "recent_click_us"},
        tolerance=F.lit(15 * 60 * 1_000_000),
    )
    return out.select("event_id", "user_id", "recent_click_us")


@query(
    "window_rank_family",
    oracle="""
WITH o AS (SELECT * FROM orders WHERE o_orderkey % 100 = 0)
SELECT
  o_orderkey,
  o_orderpriority,
  rank()         OVER w                       AS rk,
  dense_rank()   OVER w                       AS drk,
  CAST(ntile(4) OVER w AS INT)                AS quartile,
  round(percent_rank() OVER w, 6)             AS pct_rk,
  round(cume_dist()    OVER w, 6)             AS cume,
  round(first_value(o_totalprice) OVER w, 4)  AS top_price,
  round(nth_value(o_totalprice, 2) OVER w, 4) AS second_price
FROM o
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window family (rank / dense_rank / ntile /
    percent_rank / cume_dist / first_value / nth_value) over one shared
    (partition, order) spec — Spark groups them into Window operators
    by frame, but the shared partitioning + ordering means ONE shuffle
    and ONE sort feed all seven columns: adding a rank column to an
    existing windowed plan is free at scale.  Deterministic tiebreak on
    the key column (unique ordering, so RANGE-frame peer groups are
    single rows) makes every value cross-engine stable."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") % 100 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rk"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first_value("o_totalprice").over(w), 4).alias("top_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 4).alias("second_price"),
    )


@query(
    "grouping_sets_flag_status",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 4) AS sum_qty,
  count(*)                  AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube —
    reference hosts delegate this to pandas; here it is one Expand +
    hash-aggregate plan, i.e. each input row is replicated once per
    set BEFORE the partial aggregate, so the shuffle stays
    |groups|-bounded).  SQL form: the DataFrame API gained
    groupingSets only in 4.x and the SQL text is engine-portable."""
    t = load_tables(spark, sf_dir)
    t["lineitem"].createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT
          l_returnflag,
          l_linestatus,
          round(sum(l_quantity), 4) AS sum_qty,
          count(*)                  AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "pivot_status_priority",
    oracle="""
SELECT
  o_orderstatus,
  count(*) FILTER (o_orderpriority = '1-URGENT')        AS urgent,
  count(*) FILTER (o_orderpriority = '2-HIGH')          AS high,
  count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS medium,
  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
  count(*) FILTER (o_orderpriority = '5-LOW')           AS low,
  CAST(sum(floor(o_totalprice * 100 + 0.5)::BIGINT) FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) / 100.0 AS urgent_total
FROM orders
GROUP BY o_orderstatus
""",
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide reshape): order counts per status × priority.
    The values list is EXPLICIT — with it, Spark pivots in a single
    partial+final aggregate pass (each value becomes a conditional
    aggregate column, exactly the oracle's FILTER form); without it,
    Spark must first run a distinct scan to discover values — never do
    that at 100 TB.  The reference delegates reshape to pandas; here
    the wide row never materializes pre-aggregation."""
    o = load_tables(spark, sf_dir)["orders"]
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact integer-cents money sum (see cube_status_priority):
            # a double sum straddled the old round(…,4) at .tmp/sf1 (r13)
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_c"),
        )
    )
    return wide.select(
        "o_orderstatus",
        F.col("`1-URGENT_n`").alias("urgent"),
        F.col("`2-HIGH_n`").alias("high"),
        F.col("`3-MEDIUM_n`").alias("medium"),
        F.col("`4-NOT SPECIFIED_n`").alias("unspecified"),
        F.col("`5-LOW_n`").alias("low"),
        (F.col("`1-URGENT_total_c`").cast("double") / 100.0).alias("urgent_total"),
    )


@query(
    "unpivot_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, round(val, 4) AS val
FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
  FROM lineitem WHERE l_orderkey % 500 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
  FROM lineitem WHERE l_orderkey % 500 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount
  FROM lineitem WHERE l_orderkey % 500 = 0
) u
""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long reshape): three measure columns become
    (measure, value) rows via the native ``unpivot`` operator — one
    Expand node (each input row replicated once per measure INSIDE the
    scan stage, no union of three scans, no shuffle at all).  The
    oracle's UNION ALL formulation is what melt replaces: Spark reads
    the table once, not three times."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") % 500 == 0)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )
    mapping = {"l_quantity": "quantity", "l_extendedprice": "price", "l_discount": "discount"}
    m = F.col("measure")
    for k, v in mapping.items():
        m = F.when(F.col("measure") == k, v).otherwise(m)
    return out.select(
        "l_orderkey", "l_linenumber", m.alias("measure"), F.round("val", 4).alias("val")
    )


@query(
    "window_range_frame",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d
  FROM orders WHERE o_custkey % 20 = 0
)
SELECT o_custkey, o_orderkey, d,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS sum_30d,
       count(*) OVER (PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)     AS n_30d,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)   AS avg_last3
FROM o
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frames (30-day rolling revenue) next to a
    bounded ROWS frame (last-3 moving average) — the two frame kinds
    behind every rolling-metric pipeline.  RANGE frames include value
    peers (same-day orders) so they are order-stable without a
    tiebreak; the ROWS frame needs the explicit key tiebreak.  Both
    share one (partition, sort) pass per ordering — a second shuffle
    never happens for the extra frame.  Days are int32 offsets from a
    fixed epoch: RANGE over ints is engine-portable (interval-typed
    RANGE is not)."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_custkey") % 20 == 0)
    d = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
    o = o.select("o_custkey", "o_orderkey", "o_totalprice", d.alias("d"))
    w_range = (
        Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-30, Window.currentRow)
    )
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("d", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "d",
        F.round(F.sum("o_totalprice").over(w_range), 4).alias("sum_30d"),
        F.count(F.lit(1)).over(w_range).alias("n_30d"),
        F.round(F.avg("o_totalprice").over(w_rows), 4).alias("avg_last3"),
    )


@query(
    "lateral_top_orders",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 4) AS o_price
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) t ON true
WHERE c.c_custkey % 100 = 0
""",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (per-row dependent subquery with its
    own ORDER BY + LIMIT): top-2 orders per sampled customer.  Catalyst
    plans the correlation as a LateralJoin and decorrelates the inner
    limit to a per-key ranking — semantically the window top-k
    (window_topk_per_group) but expressed in the relational form other
    engines spell CROSS/OUTER APPLY; both shapes shuffle once on the
    correlation key."""
    t = load_tables(spark, sf_dir)
    t["customer"].createOrReplaceTempView("customer_lat")
    t["orders"].createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 4) AS o_price
        FROM customer_lat c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        WHERE c.c_custkey % 100 = 0
        """
    )


@query(
    "window_moving_avg",
    oracle="""
SELECT event_id, user_id,
       round(avg(value) OVER w, 4)        AS mov_avg3,
       round(max(value) OVER w, 4)        AS mov_max3,
       CAST(count(*) OVER w AS BIGINT)    AS n_frame
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding ROWS frame (3-event moving average/max per user)
    — the time-series smoothing shape window_running_sum's unbounded
    frame doesn't cover.  A bounded frame is O(frame) memory per
    partition regardless of user history length, so it survives users
    with millions of events where an unbounded collect would not; one
    shuffle on user_id, frame evaluation is streaming within the sorted
    partition.  ≤3 doubles accumulate in identical order in both
    engines, so round(.,4) is stable."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return t["events"].select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("mov_avg3"),
        F.round(F.max("value").over(w), 4).alias("mov_max3"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    )


@query(
    "snapshot_diff",
    oracle="""
WITH old AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 != 0
),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN n_chars + 10 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 5 != 0
),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.n_chars != n.n_chars THEN 'changed'
              ELSE 'unchanged' END AS change,
         o.n_chars AS old_chars, n.n_chars AS new_chars
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT change, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(old_chars, 0)) AS BIGINT) AS sum_old,
       CAST(sum(coalesce(new_chars, 0)) AS BIGINT) AS sum_new,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM d GROUP BY change
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (data-versioning diff): classify every
    key across two corpus snapshots as added / removed / changed /
    unchanged via ONE full-outer join on the key, with per-class counts
    and checksums.  This is the audit op behind incremental publishing
    — "what did today's run change?" — and the validation step before
    promoting a rewritten 100 TB table.

    One key-hashed shuffle per side into the join; the classification
    is a projection; per-class aggregate is |classes| rows.  Never a
    row-by-row driver comparison.  (Snapshots here are derived filters
    of `documents` so the oracle states the same inputs.)"""
    d = load_tables(spark, sf_dir)["documents"]
    old = d.filter(F.col("doc_id") % 7 != 0).select("doc_id", "n_chars")
    new = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") + 10)
            .otherwise(F.col("n_chars"))
            .alias("n_chars"),
        )
    )
    j = old.alias("o").join(new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.n_chars") != F.col("n.n_chars"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
            change.alias("change"),
            F.col("o.n_chars").alias("old_chars"),
            F.col("n.n_chars").alias("new_chars"),
        )
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("old_chars", F.lit(0))).alias("sum_old"),
            F.sum(F.coalesce("new_chars", F.lit(0))).alias("sum_new"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "join_salted_skew",
    oracle="""
SELECT e.event_type,
       CAST(count(*) AS BIGINT)              AS n_joined,
       round(avg(e.value * c.c_acctbal), 4)  AS avg_weighted
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.event_type
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for hot keys: the fact side (events) concentrates on
    a handful of user_ids — the power-law shape that at 100 TB puts one
    key's entire volume through a single reducer.  The remedy shown
    here: append a deterministic salt in [0, S) to the fact key, explode
    the dimension side S ways, and join on (key, salt) so each hot key
    spreads across S tasks.  The ORACLE is the PLAIN unsalted join —
    proving the rewrite changes the physical distribution, never the
    result.

    S=8 is a literal here; in production pick S from the key-skew
    report (operators/profile.py:key_skew_report) and salt ONLY the
    keys above the skew threshold (two-branch union) so the dimension
    blow-up stays bounded.  AQE's skew-join split handles moderate
    skew for free; explicit salting is for the pathological keys AQE
    cannot split, e.g. a single-key aggregate downstream."""
    t = load_tables(spark, sf_dir)
    s = 8
    fact = t["events"].select(
        "user_id",
        "event_type",
        "value",
        F.pmod("event_id", F.lit(s)).alias("salt"),
    )
    dim = (
        t["customer"]
        .select("c_custkey", "c_acctbal")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(s)])))
    )
    return (
        fact.join(
            dim,
            (fact.user_id == dim.c_custkey) & (fact.salt == dim.salt),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_joined"),
            F.round(F.avg(F.col("value") * F.col("c_acctbal")), 4).alias(
                "avg_weighted"
            ),
        )
    )
