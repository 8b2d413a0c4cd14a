"""Analytic-surface breadth, round 4: month-granularity date
arithmetic, regression/correlation aggregates, FILTER-clause
conditional aggregation, histogram bucketing, ordered string
aggregation, the array higher-order-function battery, and null-safe
join equality.

These round out the host-provided relational layer (SURVEY.md §2.8 —
capabilities fletcher delegated to pandas that Spark supplies natively)
beyond what queries/relational.py and queries/columnar.py already
cover.  Everything is whole-stage-codegen JVM compute; the only
shuffles are the grouping aggregates themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.queries.registry import query


@query(
    "date_month_arith",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT
  o_orderkey,
  (d + INTERVAL 3 MONTH)::DATE                                    AS plus_3mo,
  CAST(date_diff('month', DATE '1995-01-01',
                 date_trunc('month', d)) AS INT)                  AS months_since,
  CAST(dayofweek(d) + 1 AS INT)                                   AS dow,
  CAST(weekofyear(d) AS INT)                                      AS wk,
  d + CAST(8 - isodow(d) AS INT)                                  AS next_mon,
  make_date(CAST(extract(year FROM d) AS INT),
            CAST(extract(month FROM d) AS INT), 15)               AS mid_month
FROM o
""",
)
def date_month_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-granularity temporal arithmetic — the surface
    date_arith_extract (day granularity) leaves out: add_months with
    end-of-month clamping, whole-month distance, weekday/ISO-week
    extraction, next-weekday, and date construction.  All codegen'd
    intrinsics over the int32 days representation; months_between is
    anchored to month starts so both engines count calendar-month
    boundaries (the fractional 31-day-month convention is not
    cross-engine portable)."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3mo"),
        F.months_between(F.trunc(d, "month"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("months_since"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("wk"),
        F.next_day(d, "Mon").alias("next_mon"),
        F.make_date(F.year(d), F.month(d), F.lit(15)).alias("mid_month"),
    )


@query(
    "corr_regression_stats",
    oracle="""
SELECT
  l_returnflag,
  round(corr(l_extendedprice, l_quantity), 6)            AS price_qty_corr,
  round(covar_pop(l_extendedprice, l_quantity), 4)       AS cov_pop,
  round(covar_samp(l_extendedprice, l_quantity), 4)      AS cov_samp,
  round(regr_slope(l_extendedprice, l_quantity), 6)      AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 4)  AS intercept,
  round(regr_r2(l_extendedprice, l_quantity), 6)         AS r2,
  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def corr_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics aggregates: Pearson correlation,
    population/sample covariance, and the OLS regression family
    (slope / intercept / R² / count) of extendedprice on quantity per
    return flag.  Single-pass numerically stable merge formulas in
    both engines — one hash aggregate, map-side partials, 3 output
    rows regardless of corpus size."""
    li = load_tables(spark, sf_dir)["lineitem"]
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(x, y), 6).alias("price_qty_corr"),
        F.round(F.covar_pop(x, y), 4).alias("cov_pop"),
        F.round(F.covar_samp(x, y), 4).alias("cov_samp"),
        F.round(F.regr_slope(x, y), 6).alias("slope"),
        F.round(F.regr_intercept(x, y), 4).alias("intercept"),
        F.round(F.regr_r2(x, y), 6).alias("r2"),
        F.regr_count(x, y).alias("n"),
    )


@query(
    "conditional_agg_filter",
    oracle="""
SELECT
  l_returnflag,
  CAST(count(*) AS BIGINT)                                        AS n_rows,
  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)         AS n_bulk,
  round(sum(l_extendedprice) FILTER (WHERE l_discount = 0), 2)    AS rev_nodisc,
  round(avg(l_quantity) FILTER (WHERE l_tax > 0.04), 4)           AS avg_qty_hitax,
  round(min(l_extendedprice) FILTER (WHERE l_quantity = 1), 2)    AS min_single
FROM lineitem
GROUP BY l_returnflag
""",
)
def conditional_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause): several
    differently-predicated aggregates computed in ONE pass over the
    scan — the idiomatic replacement for N self-joined subqueries.
    Spark expresses each as count_if / agg-over-CASE; Catalyst fuses
    them into a single hash aggregate, so the table is read once."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.round(
            F.sum(F.when(F.col("l_discount") == 0, F.col("l_extendedprice"))), 2
        ).alias("rev_nodisc"),
        F.round(F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_quantity"))), 4).alias(
            "avg_qty_hitax"
        ),
        F.round(
            F.min(F.when(F.col("l_quantity") == 1, F.col("l_extendedprice"))), 2
        ).alias("min_single"),
    )


@query(
    "histogram_width_bucket",
    oracle="""
WITH b AS (
  SELECT CASE
           WHEN o_totalprice < 0 THEN 0
           WHEN o_totalprice >= 600000 THEN 13
           ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1
         END AS bucket
  FROM orders
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders
FROM b GROUP BY bucket
""",
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value: 12 buckets over
    [0, 600000) with the SQL width_bucket edge convention (below-range
    → 0, at-or-above-range → 13).  Spark's ``width_bucket`` intrinsic
    computes the bucket in-row; the aggregate is a ≤14-key hash agg —
    a full-corpus histogram costs one map-side-combined pass no matter
    the scale."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "string_agg_collect",
    oracle="""
SELECT
  o_orderpriority,
  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)  AS statuses,
  CAST(count(DISTINCT o_orderstatus) AS BIGINT)                   AS n_status,
  CAST(count(*) AS BIGINT)                                        AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def string_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the distinct
    order statuses per priority, comma-joined in lexical order.  Spark
    shape: collect_set → array_sort → array_join — deterministic
    because the order is imposed AFTER collection (collect order is
    partition-dependent; never emit it raw).  Group-key cardinality
    bounds both the shuffle and the in-group set size."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "array_lambda_ops",
    oracle="""
WITH g AS (
  SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys
  FROM lineitem WHERE l_orderkey % 199 = 0
  GROUP BY l_orderkey
)
SELECT
  l_orderkey,
  CAST(len(qtys) AS INT)                                          AS n_items,
  round(list_reduce(qtys, (a, b) -> a + b), 2)                    AS total_qty,
  CAST(len(list_filter(qtys, x -> x > 25)) AS INT)                AS n_over25,
  len(list_filter(qtys, x -> x > 45)) > 0                         AS has_over45,
  len(list_filter(qtys, x -> NOT (x > 0))) = 0                    AS all_pos,
  qtys[1]                                                         AS min_qty
FROM g
""",
)
def array_lambda_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array higher-order-function battery (SURVEY §2.2 list
    compute, generalized): per-order quantity vectors folded with
    ``aggregate``, predicated with ``filter`` / ``exists`` /
    ``forall``, and indexed with ``element_at`` — all in-row lambda
    compute after one grouping aggregate.  The collected array is
    sorted before every fold so both engines accumulate in the same
    order (collect order is partition-dependent)."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") % 199 == 0)
    g = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("qtys")
    )
    q = F.col("qtys")
    return g.select(
        "l_orderkey",
        F.size(q).alias("n_items"),
        F.round(F.aggregate(q, F.lit(0.0), lambda a, x: a + x), 2).alias("total_qty"),
        F.size(F.filter(q, lambda x: x > 25)).alias("n_over25"),
        F.exists(q, lambda x: x > 45).alias("has_over45"),
        F.forall(q, lambda x: x > 0).alias("all_pos"),
        F.element_at(q, 1).alias("min_qty"),
    )


@query(
    "null_safe_join",
    oracle="""
WITH a AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey % 5 END AS k,
         count(*) AS cnt_a
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY k
),
b AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey % 5 END AS k,
         round(sum(o_totalprice), 2) AS rev_b
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY k
)
SELECT a.k, CAST(a.cnt_a AS BIGINT) AS cnt_a, b.rev_b
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
""",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL bucket on both sides joins to itself instead of being
    dropped — the semantics standard equi-join silently discards.
    Both inputs are pre-aggregated to key cardinality before the join,
    so the null-safe comparison runs over group counts, not raw rows
    (the 100 TB pattern: aggregate first, join the summaries)."""
    o = load_tables(spark, sf_dir)["orders"]
    k = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderkey") % 5
    )
    a = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy(k.alias("k"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "cnt_a", "rev_b"
    )


@query(
    "histogram_equidepth",
    oracle="""
SELECT decile,
       CAST(count(*) AS BIGINT)      AS n_orders,
       round(min(o_totalprice), 2)   AS lo,
       round(max(o_totalprice), 2)   AS hi
FROM (
  SELECT o_totalprice,
         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
           AS decile
  FROM orders)
GROUP BY decile
""",
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bucket, vs
    histogram_width_bucket's equal-width bins): decile boundaries of
    o_totalprice via ``ntile``, the optimizer-statistics shape used for
    range-partition planning and quantile-bucketed sampling.

    ``ntile`` over a global ORDER BY is exact but funnels the table
    through one sorted partition — fine for the ≤10-row-out profile of
    a dimension table, wrong for a 100 TB fact.  The scale path is the
    two-pass variant: ``approx_percentile(col, array(0.1..0.9))`` in
    one hash-agg pass, broadcast the 9 cut points, then a map-only
    ``width_bucket``-style projection assigns buckets with NO global
    sort (boundary counts become approximate — the trade documented in
    operators/profile.py).  The tiebreak on o_orderkey makes the exact
    variant's bucket membership deterministic cross-engine."""
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "histogram_equidepth_cuts",
    oracle="""
WITH v AS (SELECT o_totalprice AS x, o_orderkey FROM orders WHERE o_totalprice IS NOT NULL),
h AS (SELECT x, count(*) AS c FROM v GROUP BY x),
cum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cw FROM h),
nn AS (SELECT count(*) AS n FROM v),
cuts AS (
  SELECT i, min(x) AS cut
  FROM cum CROSS JOIN nn CROSS JOIN (SELECT unnest(range(1, 10)) AS i) t
  WHERE cw >= ceil(i * n / 10.0)
  GROUP BY i),
carr AS (SELECT list(cut ORDER BY i) AS cl FROM cuts),
b AS (
  SELECT CAST(1 + len(list_filter(carr.cl, c -> x > c)) AS BIGINT) AS decile, x
  FROM v CROSS JOIN carr)
SELECT decile,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(min(x), 2)            AS lo,
       round(max(x), 2)            AS hi
FROM b GROUP BY decile
""",
)
def histogram_equidepth_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for equi-depth histograms (the two-path treatment
    histogram_equidepth's docstring promises): rank-exact decile cut
    points from :func:`exact_cut_points` — a two-level prefix sum over
    the value histogram, no table-sized single-partition window — then a
    broadcast of the 9 cuts and a map-only bucket assignment.  Ties
    share a bucket (cut semantics), vs ntile's row-exact split; both
    variants stay registered so the driver value-checks each contract.
    """
    from fletcher_spark.operators.agg import assign_cut_buckets, exact_cut_points

    o = load_tables(spark, sf_dir)["orders"]
    cuts = exact_cut_points(o, "o_totalprice", 10)
    return (
        # null filter mirrors the cut computation and the oracle's v
        # CTE — a NULL price must not land in decile 1
        o.select("o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())
        .crossJoin(F.broadcast(cuts.select("cuts")))
        .select(
            assign_cut_buckets("o_totalprice").alias("decile"), "o_totalprice"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )
