"""Columnar compute surface queries (SURVEY.md §2.2–2.5): reductions,
element-wise arithmetic/comparison with SQL null propagation, Kleene
three-valued logic, fillna/ffill/bfill, casts, selection, encoding.

This is the reference's core capability set (fletcher's buffer kernels)
expressed as Catalyst expressions — every one stays inside whole-stage
codegen; nothing below crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.operators import core as C
from fletcher_spark.operators import encoding as E
from fletcher_spark.queries.registry import query


@query(
    "reductions_numeric",
    oracle="""
WITH s AS (SELECT avg(l_quantity) AS mu FROM lineitem),
m AS (
  SELECT
    avg(pow(l_quantity - mu, 2)) AS m2,
    avg(pow(l_quantity - mu, 3)) AS m3,
    avg(pow(l_quantity - mu, 4)) AS m4
  FROM lineitem, s
),
a AS (
  SELECT
    round(sum(l_quantity), 4)          AS sum_qty,
    round(min(l_quantity), 4)          AS min_qty,
    round(max(l_quantity), 4)          AS max_qty,
    round(avg(l_quantity), 4)          AS mean_qty,
    round(stddev_samp(l_quantity), 4)  AS std_qty,
    round(var_samp(l_quantity), 4)     AS var_qty,
    round(median(l_quantity), 4)       AS median_qty,
    count(*)                           AS n,
    count(DISTINCT l_suppkey)          AS n_supp
  FROM lineitem
)
SELECT
  a.*,
  round(m3 / pow(m2, 1.5), 4)     AS skew_qty,
  round(m4 / pow(m2, 2) - 3, 4)   AS kurt_qty
FROM a, m
""",
)
def reductions_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full `_reduce` map (sum/min/max/mean/std/var/median/skew/kurt
    — /root/reference/fletcher/base.py:470-523).  Spark's
    skewness/kurtosis are population-moment formulas; the oracle
    derives the same from raw moments.

    All moment/extreme reductions run in ONE partial+final hash
    aggregate.  The exact median deliberately does NOT use Spark's
    ``median()``/``percentile()``: those are buffer-every-value
    TypedImperativeAggregates — the final merge task receives the
    whole column, which both blocks whole-stage codegen for the
    enclosing aggregate and cannot scale past one task's memory.
    Instead the median comes from a VALUE HISTOGRAM (groupBy value →
    counts → cumulative rank): exact for any column whose distinct
    cardinality is tractable (physical measures like quantities,
    prices, and lengths always are), fully distributed — the only
    non-parallel step is a cumulative sum over the histogram itself —
    and even-count middles average per the textbook definition."""
    li = load_tables(spark, sf_dir)["lineitem"]
    q = F.col("l_quantity")
    base = li.agg(
        F.round(F.sum(q), 4).alias("sum_qty"),
        F.round(F.min(q), 4).alias("min_qty"),
        F.round(F.max(q), 4).alias("max_qty"),
        F.round(F.avg(q), 4).alias("mean_qty"),
        F.round(F.stddev_samp(q), 4).alias("std_qty"),
        F.round(F.var_samp(q), 4).alias("var_qty"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("l_suppkey")).alias("n_supp"),
        F.round(F.skewness(q), 4).alias("skew_qty"),
        F.round(F.kurtosis(q), 4).alias("kurt_qty"),
    )
    hist = li.groupBy(q.alias("v")).agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "v",
        F.sum("c")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy(F.lit(1))).alias("nn"),
    )
    med = cum.agg(
        F.round(
            (
                F.min(F.when(F.col("cum") >= F.expr("(nn + 1) div 2"), F.col("v")))
                + F.min(F.when(F.col("cum") >= F.expr("(nn + 2) div 2"), F.col("v")))
            )
            / 2,
            4,
        ).alias("median_qty")
    )
    return base.crossJoin(F.broadcast(med)).select(
        "sum_qty",
        "min_qty",
        "max_qty",
        "mean_qty",
        "std_qty",
        "var_qty",
        "median_qty",
        "n",
        "n_supp",
        "skew_qty",
        "kurt_qty",
    )


@query(
    "reductions_product",
    oracle="""
WITH p AS (
  SELECT l_orderkey, product(1 + l_discount) AS pr
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  round(avg(pr), 4) AS avg_prod,
  round(min(pr), 4) AS min_prod,
  round(max(pr), 4) AS max_prod
FROM p
""",
)
def reductions_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prod reduction (/root/reference/fletcher/_algorithms.py:170) —
    grouped so the product stays in double range."""
    li = load_tables(spark, sf_dir)["lineitem"]
    per_order = li.groupBy("l_orderkey").agg(
        F.product(1 + F.col("l_discount")).alias("pr")
    )
    return per_order.agg(
        F.round(F.avg("pr"), 4).alias("avg_prod"),
        F.round(F.min("pr"), 4).alias("min_prod"),
        F.round(F.max("pr"), 4).alias("max_prod"),
    )


@query(
    "reductions_bool_any_all",
    oracle="""
SELECT
  l_returnflag,
  bool_or(l_discount > 0.05)  AS any_big_disc,
  bool_and(l_quantity >= 1)   AS all_qty_pos,
  bool_or(CASE WHEN l_tax = 0 THEN NULL ELSE l_discount > 0.08 END) AS any_with_nulls
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def reductions_bool_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """any/all boolean reductions (SQL null semantics; the reference's
    bit-scan kernels /root/reference/fletcher/algorithms/bool.py:15-101)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    with_nulls = F.when(F.col("l_tax") == 0, F.lit(None)).otherwise(
        F.col("l_discount") > 0.08
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bool_or(F.col("l_discount") > 0.05).alias("any_big_disc"),
            F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_pos"),
            F.bool_or(with_nulls).alias("any_with_nulls"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "arith_null_propagation",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  round(l_quantity + nullif(l_discount, 0.0), 4)                   AS add_nd,
  round(l_quantity - nullif(l_discount, 0.0), 4)                   AS sub_nd,
  round(l_extendedprice * nullif(l_discount, 0.0), 4)              AS mul_nd,
  round(l_extendedprice / nullif(l_discount, 0.0), 4)              AS div_nd,
  round(fmod(l_quantity, 7), 4)                                    AS mod7,
  round(pow(1 + l_discount, 3), 4)                                 AS pow3,
  CAST(floor(l_extendedprice / l_quantity) AS BIGINT)              AS floordiv
FROM lineitem
ORDER BY l_orderkey, l_linenumber
""",
)
def arith_null_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise `+ - * / % ** //` with null propagation
    (/root/reference/fletcher/_algorithms.py:192-234: mask-OR of the two
    validity bitmaps == SQL null semantics, 1:1)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    nd = F.nullif(F.col("l_discount"), F.lit(0.0))
    q, ep = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(q + nd, 4).alias("add_nd"),
            F.round(q - nd, 4).alias("sub_nd"),
            F.round(ep * nd, 4).alias("mul_nd"),
            F.round(ep / nd, 4).alias("div_nd"),
            F.round(q % 7, 4).alias("mod7"),
            F.round(F.pow(1 + F.col("l_discount"), 3), 4).alias("pow3"),
            F.floor(ep / q).alias("floordiv"),
        )
    )


@query(
    "comparison_ops",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  l_quantity < 25                       AS lt,
  l_quantity <= 25                      AS le,
  l_quantity = 25                       AS eq,
  l_quantity != 25                      AS ne,
  nullif(l_discount, 0.0) > 0.05        AS gt_null,
  nullif(l_discount, 0.0) >= l_tax      AS ge_null
FROM lineitem
ORDER BY l_orderkey, l_linenumber
""",
)
def comparison_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`== != < <= > >=` with null propagation
    (/root/reference/fletcher/base.py:592-612)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    q = F.col("l_quantity")
    nd = F.nullif(F.col("l_discount"), F.lit(0.0))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            (q < 25).alias("lt"),
            (q <= 25).alias("le"),
            (q == 25).alias("eq"),
            (q != 25).alias("ne"),
            (nd > 0.05).alias("gt_null"),
            (nd >= F.col("l_tax")).alias("ge_null"),
        )
    )


@query(
    "kleene_logic",
    oracle="""
WITH t AS (
  SELECT
    event_id,
    CASE event_id % 3 WHEN 0 THEN TRUE WHEN 1 THEN FALSE ELSE NULL END AS x,
    CASE event_id % 5 WHEN 0 THEN TRUE WHEN 1 THEN FALSE WHEN 2 THEN NULL
         WHEN 3 THEN TRUE ELSE NULL END AS y
  FROM events
)
SELECT event_id, x, y, x OR y AS x_or_y, x AND y AS x_and_y, NOT x AS not_x
FROM t
ORDER BY event_id
""",
)
def kleene_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleene OR/AND/NOT — the reference's flagship bit-kernel suite
    (/root/reference/fletcher/algorithms/bool.py:104-415, ~240 LoC of
    numba) is a 1:1 semantic match with Spark SQL's three-valued logic:
    `TRUE OR NULL = TRUE`, `FALSE OR NULL = NULL`, etc."""
    ev = load_tables(spark, sf_dir)["events"]
    x = (
        F.when(F.col("event_id") % 3 == 0, F.lit(True))
        .when(F.col("event_id") % 3 == 1, F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )
    y = (
        F.when(F.col("event_id") % 5 == 0, F.lit(True))
        .when(F.col("event_id") % 5 == 1, F.lit(False))
        .when(F.col("event_id") % 5 == 2, F.lit(None).cast("boolean"))
        .when(F.col("event_id") % 5 == 3, F.lit(True))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return (
        ev.select("event_id", x.alias("x"), y.alias("y"))
        .select(
            "event_id",
            "x",
            "y",
            (F.col("x") | F.col("y")).alias("x_or_y"),
            (F.col("x") & F.col("y")).alias("x_and_y"),
            (~F.col("x")).alias("not_x"),
        )
    )


@query(
    "isna_fillna",
    oracle="""
SELECT
  count(*) FILTER (WHERE nullif(value, 0.0) IS NULL)      AS n_null,
  count(*) FILTER (WHERE nullif(value, 0.0) IS NOT NULL)  AS n_valid,
  round(sum(coalesce(nullif(value, 0.0), -1.0)), 4)       AS sum_filled
FROM events
""",
)
def isna_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isna (/root/reference/fletcher/base.py:892-902) + scalar fillna
    (/root/reference/fletcher/base.py:1155-1213) as coalesce."""
    ev = load_tables(spark, sf_dir)["events"]
    v = F.nullif(F.col("value"), F.lit(0.0))
    return ev.agg(
        F.count(F.when(C.is_null(v), 1)).alias("n_null"),
        F.count(v).alias("n_valid"),
        F.round(F.sum(C.fill_null(v, -1.0)), 4).alias("sum_filled"),
    )


@query(
    "fillna_ffill_bfill",
    oracle="""
WITH t AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus,
         CASE WHEN value < 50 THEN NULL ELSE value END AS v
  FROM events
)
SELECT
  event_id,
  user_id,
  round(last_value(v IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY tus, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_ffill,
  round(first_value(v IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY tus, event_id
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 4) AS v_bfill
FROM t
ORDER BY event_id
""",
)
def fillna_ffill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ffill/bfill (/root/reference/fletcher/base.py:1196-1210 —
    object-dtype pandas fallback there; ordered windows here, with the
    partition key making it distributable)."""
    ev = load_tables(spark, sf_dir)["events"]
    v = F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("value"))
    df = ev.select("event_id", "user_id", "ts_us", v.alias("v"))
    df = C.ffill(df, "v", order=["ts_us", "event_id"], partition=["user_id"], out="v_ffill")
    df = C.bfill(df, "v", order=["ts_us", "event_id"], partition=["user_id"], out="v_bfill")
    return df.select(
        "event_id",
        "user_id",
        F.round("v_ffill", 4).alias("v_ffill"),
        F.round("v_bfill", 4).alias("v_bfill"),
    )


@query(
    "cast_astype",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
  CAST(l_linenumber AS VARCHAR)      AS ln_str,
  CAST(l_linenumber AS DOUBLE)       AS ln_dbl,
  epoch(l_shipdate)::BIGINT          AS ship_epoch
FROM lineitem
ORDER BY l_orderkey, l_linenumber
""",
)
def cast_astype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """astype/cast (/root/reference/fletcher/base.py:794-861).  NOTE:
    Spark truncates double→int; DuckDB rounds — oracle uses trunc()
    explicitly to pin Spark semantics."""
    from fletcher_spark.functions.timeutil import epoch_seconds

    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.col("l_linenumber").cast("string").alias("ln_str"),
            F.col("l_linenumber").cast("double").alias("ln_dbl"),
            epoch_seconds("l_shipdate").alias("ship_epoch"),
        )
    )


@query(
    "unique_distinct",
    oracle="SELECT DISTINCT p_brand FROM part ORDER BY p_brand",
)
def unique_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique (/root/reference/fletcher/base.py:652-666)."""
    return E.unique(load_tables(spark, sf_dir)["part"], "p_brand").orderBy("p_brand")


@query(
    "value_counts",
    oracle="""
SELECT event_type, count(*) AS count
FROM events
WHERE event_type IS NOT NULL
GROUP BY event_type
ORDER BY count DESC, event_type
""",
)
def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts (/root/reference/fletcher/base.py:863-890)."""
    ev = load_tables(spark, sf_dir)["events"]
    return E.value_counts(ev, "event_type").orderBy(F.desc("count"), F.asc("event_type"))


@query(
    "factorize_dense_codes",
    oracle="""
SELECT
  p_partkey,
  p_brand,
  dense_rank() OVER (ORDER BY p_brand) - 1 AS code
FROM part
ORDER BY p_partkey
""",
)
def factorize_dense_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """factorize/dictionary-encode (/root/reference/fletcher/base.py:
    1116-1130): dense codes via distinct→zipWithIndex→broadcast-join —
    the oracle's dense_rank window is the spec, not the plan (a global
    window would single-partition 100 TB)."""
    part = load_tables(spark, sf_dir)["part"]
    coded = E.factorize(part.select("p_partkey", "p_brand"), "p_brand")
    return coded.select("p_partkey", "p_brand", "code")


@query(
    "explode_flatten",
    oracle="""
SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val
FROM embeddings
""",
)
def explode_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatten on list<T> (/root/reference/fletcher/base.py:1272-1276) —
    row-multiplying explode."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    out = C.explode_list(emb, "embedding", out="raw", keep=["vec_id"])
    # float32→float64 widening is exact IEEE on both engines; no rounding
    # needed (and rounding would *introduce* halfway-tie divergence).
    return out.select("vec_id", F.col("raw").cast("double").alias("val"))


@query(
    "take_by_key",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id IN (3, 26, 59, 141, 404, 499)
ORDER BY doc_id
""",
)
def take_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take (/root/reference/fletcher/base.py:690-792) re-expressed as a
    keyed gather: broadcast the wanted keys, semi-join.  Positional
    indices have no stable meaning on a distributed table."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = C.take_by_key(docs, "doc_id", [3, 26, 59, 141, 404, 499])
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@query(
    "slice_offset_limit",
    oracle="""
SELECT doc_id, source
FROM documents
ORDER BY doc_id
LIMIT 100 OFFSET 50
""",
)
def slice_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slice (/root/reference/fletcher/base.py:1049-1067) under an
    explicit ordering — Spark 4 offset+limit."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = C.slice_rows(docs, [F.asc("doc_id")], 50, 150)
    return out.select("doc_id", "source")


@query(
    "udf_grouped_geomean",
    oracle="""
SELECT l_returnflag,
       round(exp(avg(ln(l_quantity))), 4) AS geo_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def udf_grouped_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface (SURVEY.md §2.7 host row): per-group geometric mean
    as an Arrow GROUPED_AGG pandas_udf (operators/udf.py:geometric_mean).
    Spark shuffles on the group key and hands each group's column to
    Python as one Arrow batch; the oracle checks the same statistic via
    exp(avg(ln(x))).  Python tier by design — the SQL identity is the
    fast path when exactness suffices."""
    from fletcher_spark.operators import udf as U

    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(U.geometric_mean(F.col("l_quantity")), 4).alias("geo_qty"))
    )


@query(
    "decimal_exact_money",
    oracle="""
SELECT
  l_returnflag,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc,
  CAST(CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS min_price,
  CAST(CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType exact arithmetic + reductions (SURVEY §1.2: the
    reference admits decimal columns as numeric for arithmetic and
    reductions, fletcher/base.py:131-136).  Unlike float64, decimal
    sums are exact and associativity-safe, so partial aggregation
    across 1000 executors produces bit-identical results regardless of
    partitioning — the property that matters for money at 100 TB.
    All arithmetic and aggregation stays DecimalType (the point of the
    query); only the FINAL outputs cast decimal(18,s) → double so both
    engines serialize the identical value identically (a pandas frame
    coerces DuckDB DECIMAL to float64 but keeps Spark Decimal as
    object — the exact decimals hash-mismatch even when equal; ≤14
    significant digits round-trips through double losslessly)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(12,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("decimal(18,2)").cast("double").alias("sum_price"),
        F.sum(price * disc).cast("decimal(18,4)").cast("double").alias("sum_disc"),
        F.min(price).cast("decimal(18,2)").cast("double").alias("min_price"),
        F.max(price).cast("decimal(18,2)").cast("double").alias("max_price"),
    )


@query(
    "date_arith_extract",
    oracle="""
SELECT
  o_orderkey,
  CAST(o_orderdate AS DATE)                                  AS odate,
  CAST(extract(year  FROM o_orderdate) AS INT)               AS yr,
  CAST(extract(month FROM o_orderdate) AS INT)               AS mo,
  CAST(extract(day   FROM o_orderdate) AS INT)               AS dom,
  CAST(extract(quarter FROM o_orderdate) AS INT)             AS qtr,
  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
  CAST(o_orderdate AS DATE) + 30                             AS plus_30d,
  CAST(date_trunc('month', o_orderdate) AS DATE)             AS month_start,
  last_day(CAST(o_orderdate AS DATE))                        AS month_end
FROM orders
WHERE o_orderkey % 100 = 0
""",
)
def date_arith_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal compute over date32/timestamp columns (SURVEY §1.2:
    date32/date64 → DateType; duration arithmetic surfaces here as
    day-granularity integers, the cross-engine-stable encoding).
    Every function is a codegen'd JVM intrinsic on the int32 days
    representation — no timezone dependence (TIMESTAMP_NTZ source),
    no Python.  The %-filter is pushed down only as a scan-level
    residual, but column pruning still reduces the read to 2 columns."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("odate"),
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_add(d, 30).alias("plus_30d"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
    )


@query(
    "udf_grouped_map_zscore",
    oracle="""
WITH s AS (SELECT l_returnflag AS grp, l_quantity AS val
           FROM lineitem WHERE l_orderkey % 50 = 0)
SELECT grp, val,
       round((val - avg(val) OVER w) / stddev_samp(val) OVER w, 6) AS z
FROM s
WINDOW w AS (PARTITION BY grp)
""",
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_MAP applyInPandas (§2.7): per-group z-score where the
    Python kernel sees each group as one pandas DataFrame — the
    escape hatch for per-group logic that needs the group materialized
    (the reference's whole-column kernels never get this; pandas hosts
    it for them).  The oracle is the pure-SQL window formulation,
    proving the Arrow round-trip preserves values bit-for-bit at 6dp.
    Scale note in operators/udf.py:grouped_map_zscore (group-fits-in-
    memory constraint; prefer GROUPED_AGG / window SQL when possible)."""
    from fletcher_spark.operators import udf as U

    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") % 50 == 0)
    li = li.select(F.col("l_returnflag").alias("grp"), F.col("l_quantity").alias("val"))
    out = U.grouped_map_zscore(li, "grp", "val")
    return out.select("grp", "val", F.round("z", 6).alias("z"))


@query(
    "reductions_mode_percentile",
    oracle="""
SELECT
  mode(l_quantity)                                               AS mode_qty,
  round(quantile_cont(l_quantity, 0.25), 4)                      AS p25,
  round(quantile_cont(l_quantity, 0.50), 4)                      AS p50,
  round(quantile_cont(l_quantity, 0.75), 4)                      AS p75
FROM lineitem
""",
)
def reductions_mode_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic reductions beyond median: mode + interpolated
    (continuous) percentiles, both computed from a VALUE HISTOGRAM —
    the same distributed-exact technique as ``reductions_numeric``'s
    median, instead of Spark's buffer-every-value
    ``mode()``/``percentile()`` aggregates whose final merge task
    receives the whole column.

    * mode = arg-max of the histogram with an EXPLICIT tiebreak
      (highest count, then lowest value) — the corpus mode is unique
      so the value matches DuckDB's ``mode()``, but unlike the builtin
      the policy is deterministic under ties by construction;
    * percentile(p) interpolates between the values at cumulative
      ranks ``floor/ceil(1 + (n-1)p)`` — the exact ``quantile_cont``
      definition — where rank lookup is ``min v with cum ≥ r`` over
      the cumulative histogram.

    The only non-parallel step is the cumulative sum over the
    histogram itself (distinct-value-sized, never row-sized); columns
    with intractable distinct cardinality fall back to
    approx_percentile (operators/agg.py:median_approx)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    hist = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = hist.select(
        "v",
        "c",
        F.sum("c")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy(F.lit(1))).alias("nn"),
    )

    # pos/frac are per-row constants (nn is the same on every histogram
    # row), so floor/ceil rank thresholds can sit inside the aggregate
    # filters; the interpolation itself combines the aggregated pieces
    # in a second projection (nested aggregates are illegal).
    def _pieces(p: float, tag: str):
        pos = 1 + (F.col("nn") - 1) * F.lit(p)
        return [
            F.min(F.when(F.col("cum") >= F.floor(pos), F.col("v"))).alias(
                f"vlo_{tag}"
            ),
            F.min(F.when(F.col("cum") >= F.ceil(pos), F.col("v"))).alias(
                f"vhi_{tag}"
            ),
            F.min(pos - F.floor(pos)).alias(f"frac_{tag}"),
        ]

    agg = cum.agg(
        F.max_by("v", F.struct(F.col("c"), (-F.col("v")).alias("nv"))).alias(
            "mode_qty"
        ),
        *_pieces(0.25, "25"),
        *_pieces(0.50, "50"),
        *_pieces(0.75, "75"),
    )

    def _interp(tag: str):
        return F.round(
            F.col(f"vlo_{tag}")
            + F.col(f"frac_{tag}") * (F.col(f"vhi_{tag}") - F.col(f"vlo_{tag}")),
            4,
        )

    return agg.select(
        "mode_qty",
        _interp("25").alias("p25"),
        _interp("50").alias("p50"),
        _interp("75").alias("p75"),
    )


@query(
    "udf_arrow_batch_stats",
    oracle="""
SELECT doc_id, length(text)::BIGINT AS n_chars, strlen(text)::BIGINT AS n_bytes
FROM documents
""",
)
def udf_arrow_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` tier (§2.7): pyarrow.compute over raw Arrow
    RecordBatches — no pandas, no per-row Python; the buffer-level
    analog of the reference's numba kernels
    (operators/udf.py:arrow_map_utf8_stats).  Oracle = the builtin SQL
    for the same stats, value-checking the Arrow round-trip."""
    from fletcher_spark.operators import udf as U

    d = load_tables(spark, sf_dir)["documents"]
    return U.arrow_map_utf8_stats(d, "doc_id", "text")


@query(
    "udf_cogroup_fulfillment",
    oracle="""
SELECT o.o_orderkey,
       count(l.l_orderkey)                                          AS n_items,
       round(o.o_totalprice - sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS price_gap
FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 200 = 0
GROUP BY o.o_orderkey, o.o_totalprice
""",
)
def udf_cogroup_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (§2.7): orders ⊕ lineitem grouped on the
    order key, per-key Python kernel computing fulfillment stats; the
    LEFT JOIN + GROUP BY oracle proves cogroup ≡ relational join here
    (operators/udf.py:cogroup_order_stats — use the relational form
    unless the kernel genuinely needs both frames materialized)."""
    from fletcher_spark.operators import udf as U

    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") % 200 == 0).select("o_orderkey", "o_totalprice")
    li = t["lineitem"].filter(F.col("l_orderkey") % 200 == 0).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return U.cogroup_order_stats(o, li)


@query(
    "map_struct_ops",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       n_orders,
       round(avg_price, 4) AS avg_price,
       max_year
FROM (
  SELECT o_orderstatus, o_orderpriority,
         count(*)                              AS n_orders,
         avg(o_totalprice)                     AS avg_price,
         CAST(max(year(o_orderdate)) AS BIGINT) AS max_year
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority)
""",
)
def map_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct nested-type surface (SURVEY §1.2: the reference has
    NO map or struct support — Spark supplies them natively; this pins
    that they actually work end to end).  Per order a nested struct is
    built and its fields accessed by dotted path; per status the
    per-priority stats are packed into a MapType via
    ``map_from_entries(collect_list(struct(...)))``, carried through a
    shuffle as one map column, then unpacked with ``explode``.  The
    oracle is the semantically-equal flat double-aggregate — content
    equality proves the map round-trip lost nothing.  At 100 TB maps
    of bounded key-sets ride shuffles as single binary columns (the
    usual feature-bundle pattern)."""
    o = load_tables(spark, sf_dir)["orders"]
    info = F.struct(
        F.col("o_totalprice").alias("price"),
        F.struct(F.col("o_orderdate").alias("d")).alias("nested"),
    )
    enriched = o.withColumn("info", info)
    per_pri = enriched.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.struct(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg(F.col("info.price")).alias("avg_price"),
            F.max(F.year(F.col("info.nested.d"))).cast("long").alias("max_year"),
        ).alias("stats")
    )
    packed = per_pri.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("o_orderpriority"), F.col("stats")))
        ).alias("by_priority")
    )
    unpacked = packed.select(
        "o_orderstatus", F.explode("by_priority").alias("o_orderpriority", "stats")
    )
    return unpacked.select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("stats.n_orders").alias("n_orders"),
        F.round(F.col("stats.avg_price"), 4).alias("avg_price"),
        F.col("stats.max_year").alias("max_year"),
    )


@query(
    "setitem_set_where",
    oracle="""
SELECT doc_id,
       CASE WHEN n_chars > 300 THEN 'REDACTED' ELSE lang END AS lang,
       n_chars
FROM documents
""",
)
def setitem_set_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """setitem / set_where (SURVEY §2.2 row 11, the reference's masked
    ``__setitem__`` — /root/reference/fletcher/base.py setitem paths):
    immutable masked column rewrite via operators/core.py:set_where —
    a pure map-side CASE projection, no shuffle, the distributed
    analog of writing through a boolean mask."""
    d = load_tables(spark, sf_dir)["documents"]
    out = C.set_where(d, "lang", F.col("n_chars") > 300, "REDACTED")
    return out.select("doc_id", "lang", "n_chars")
