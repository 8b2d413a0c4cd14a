"""Event-time window queries over ``events`` (SURVEY.md §2.8 streaming
slice).  The window logic lives in fletcher_spark/streaming/windows.py
and is shared verbatim by the Structured Streaming pipelines
(tests/test_streaming.py proves batch/stream parity); these batch
entries give it a DuckDB oracle.

``events.ts`` is stored as timestamp[ns]; io.load_tables surfaces it as
a µs TIMESTAMP (same truncation DuckDB's reader applies), so window
boundaries agree across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.functions.timeutil import epoch_seconds
from fletcher_spark.io import load_tables
from fletcher_spark.queries.registry import query
from fletcher_spark.streaming import windows as W


@query(
    "events_window_tumbling",
    oracle="""
SELECT
  epoch(time_bucket(INTERVAL '10 minutes', ts))::BIGINT AS w_start_s,
  event_type,
  count(*) AS n,
  CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS DOUBLE) / 100.0 / count(*) AS avg_value
FROM events
GROUP BY 1, 2
""",
)
def events_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows, count + mean per
    (window, event_type) — streaming/windows.py:tumbling_agg run in
    batch mode.  One shuffle on (window, key), map-side combined.

    The mean rides the exact-decimal path (events.value is 2-decimal
    fixed-point): double avg is accumulation-order-dependent, and at
    .tmp/sf1 a window's exact mean landed ON a round-half tie
    (12.94875), splitting the engines at the 4th decimal — see
    tumbling_agg's value_decimal_scale note (r13)."""
    ev = load_tables(spark, sf_dir)["events"]
    out = W.tumbling_agg(ev, "ts", "10 minutes", "event_type", value_decimal_scale=2)
    return out.select(
        epoch_seconds("w_start").alias("w_start_s"), "event_type", "n", "avg_value"
    )


@query(
    "events_window_sliding",
    oracle="""
WITH x AS (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS w_start,
         event_id
  FROM events
)
SELECT epoch(w_start)::BIGINT AS w_start_s, count(*) AS n
FROM x GROUP BY 1
""",
)
def events_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min, slide 5): every event lands in 2
    windows; Spark expands them at the scan (no self-join) —
    streaming/windows.py:sliding_agg.  The oracle reproduces the
    expansion with an explicit 2-bucket unnest."""
    ev = load_tables(spark, sf_dir)["events"]
    out = W.sliding_agg(ev, "ts", "10 minutes", "5 minutes")
    return out.select(epoch_seconds("w_start").alias("w_start_s"), "n")


@query(
    "events_session_window",
    oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT epoch_us(min(ts)) // 1000000 AS s_start_s, user_id, count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-merged session windows (30 min) per user —
    ``F.session_window``, the streaming-stateful analog of the
    sessionize operator; the oracle re-derives sessions with the
    lag/flag/cumsum construction.  Shuffles once on user_id."""
    ev = load_tables(spark, sf_dir)["events"]
    out = W.session_agg(ev, "ts", "30 minutes", "user_id")
    return out.select(
        epoch_seconds("s_start").alias("s_start_s"), "user_id", "n_events"
    )


@query(
    "events_json_props",
    oracle="""
SELECT
  event_type,
  count(*) AS n,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
  max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column compute: parse the JSON ``props`` payload
    with a typed schema (``from_json`` — JVM Jackson parser, codegen
    downstream), filter on the extracted field, aggregate per type.
    The schema-on-read path every event pipeline needs; the reference
    has no JSON support (Spark-first addition).

    Scale: parsing happens in the scan stage; the extracted column is
    then an ordinary int (filter → partial+final agg).  A malformed row
    yields NULL (PERMISSIVE mode), not a job failure.
    """
    from pyspark.sql import types as sqlt

    ev = load_tables(spark, sf_dir)["events"]
    schema = sqlt.StructType([sqlt.StructField("k", sqlt.LongType())])
    k = F.from_json(F.col("props"), schema)["k"]
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "events_click_attribution",
    oracle="""
SELECT
  v.event_id                      AS view_id,
  c.event_id                      AS click_id,
  v.user_id                       AS user_id,
  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL '15 minutes'
WHERE v.event_type = 'view' AND c.event_type = 'click'
""",
)
def events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bounded) join: every view paired with same-user
    clicks within the following 15 minutes — the attribution shape.
    Runs through streaming/windows.py:interval_join, the SAME function
    the stream-stream join uses (watermarked parity asserted in
    tests/test_streaming.py); here in batch mode with a DuckDB oracle.

    Scale: both sides shuffle once on user_id; the time bounds are a
    per-key residual, and in streaming they also bound the join state
    (evict at watermark + 15 min)."""
    ev = load_tables(spark, sf_dir)["events"]
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("ts_us").alias("v_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("ts_us").alias("c_us"),
    )
    out = W.interval_join(views, clicks, "user_id", "v_ts", "c_ts", "15 minutes")
    return out.select(
        "view_id",
        "click_id",
        "user_id",
        (F.col("c_us") - F.col("v_us")).alias("gap_us"),
    )


@query(
    "events_variant_props",
    oracle="""
SELECT
  event_type,
  count(*)                                   AS n,
  round(avg(json_extract(props, '$.k')::BIGINT), 4) AS avg_k
FROM events
WHERE json_extract(props, '$.k')::BIGINT <= 20
GROUP BY event_type
""",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4 VariantType: ``parse_json``
    once into a variant, ``variant_get`` typed paths — unlike the
    ``from_json`` path (events_json_props) no full struct schema is
    declared or materialized, and sparse access skips undeclared
    fields.  The modern lake pattern for heterogenous event payloads;
    at 100 TB variant columns shred to parquet and prune like any
    other (the filter here reaches the scan as a residual)."""
    ev = load_tables(spark, sf_dir)["events"]
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") <= 20)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
    )


@query(
    "events_funnel_conversion",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS ts_us FROM events),
v AS (SELECT user_id, min(ts_us) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts_us) AS t_click
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts_us > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts_us) AS t_purchase
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click
  GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT 'view' AS stage, count(*)::BIGINT AS n_users, 1 AS ord FROM v
  UNION ALL SELECT 'click_after_view', count(*)::BIGINT, 2 FROM c
  UNION ALL SELECT 'purchase_after_click', count(*)::BIGINT, 3 FROM p
) ORDER BY ord
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): users counted at each
    stage only if the stage event happened STRICTLY AFTER their first
    event of the previous stage — the sequence-matching shape basic
    per-type counts get wrong (a purchase before the first view must
    not convert).

    Scale: three stage aggregates, each one user-keyed partial+final
    min over a type-filtered scan, chained by user-keyed joins whose
    left side shrinks at every stage (funnel monotonicity) — no
    per-user event collection, no window over the full stream.
    """
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select("user_id", "event_type", F.col("ts_us"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str, ord_: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.lit(ord_).alias("ord"),
        )

    return (
        stage(v, "view", 1)
        .unionAll(stage(c, "click_after_view", 2))
        .unionAll(stage(p, "purchase_after_click", 3))
        .orderBy("ord")
        .select("stage", "n_users")
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts)::BIGINT // 86400000000 AS day FROM events),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
activity AS (
  SELECT DISTINCT c.cohort_day, e.day - c.cohort_day AS day_offset, e.user_id
  FROM e JOIN cohort c ON e.user_id = c.user_id
  WHERE e.day - c.cohort_day <= 7
)
SELECT cohort_day, day_offset, count(*)::BIGINT AS n_users
FROM activity GROUP BY cohort_day, day_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    distinct active users per (cohort, day-offset) for the first week —
    the standard engagement report.  Day buckets are integer
    epoch-days from ``ts_us`` so both engines bucket identically.

    Scale: one user-keyed aggregate for cohort assignment, one
    user-keyed join back to the activity stream (shuffle on user_id,
    the natural key), then a distinct + count keyed on the tiny
    (cohort, offset) pair — the distinct is the only corpus-sized
    shuffle and it is map-side combined.
    """
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select("user_id", (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("day"))
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        e.join(cohort, "user_id")
        .select(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "dedup_first_seen_batch",
    oracle="""
WITH e AS (
  SELECT user_id % 50 AS fp, event_id, epoch_us(ts) AS ts_us FROM events
),
r AS (
  SELECT fp, event_id,
         row_number() OVER (PARTITION BY fp ORDER BY ts_us, event_id) AS rn
  FROM e
)
SELECT CAST(fp AS VARCHAR) AS fp, CAST(event_id AS VARCHAR) AS event_id
FROM r WHERE rn = 1
""",
)
def dedup_first_seen_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parity for streaming first-seen dedup
    (streaming/stateful.py:streaming_first_seen): one row per
    fingerprint — the FIRST by (event time, event_id) — with the same
    string output schema the streaming operator emits.  This gives the
    transformWithState capability driver-visible correctness evidence
    even where its protobuf runtime dep is absent
    (tests/test_streaming.py:126).

    Scale: implemented as min(struct(ts_us, event_id)) — a hash
    aggregate with map-side partial min, NOT a per-key window sort; at
    100 TB the only shuffle is on the dedup key, state is one struct
    per key (the same O(keys) footprint the streaming state store
    holds).  The oracle derives the identical row via row_number=1.
    """
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select(
        (F.col("user_id") % 50).cast("string").alias("fp"),
        F.struct(F.col("ts_us"), F.col("event_id")).alias("m"),
    )
    return (
        e.groupBy("fp")
        .agg(F.min("m").alias("first"))
        .select("fp", F.col("first.event_id").cast("string").alias("event_id"))
    )


@query(
    "events_hourly_anomaly",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, epoch(h.h)::BIGINT AS hour_s, CAST(h.n AS BIGINT) AS n,
       round((h.n - s.mu) / s.sd, 4) AS z
FROM hourly h JOIN stats s USING (event_type)
WHERE s.sd > 0 AND abs((h.n - s.mu) / s.sd) > 2
""",
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against the type's own hourly distribution, emitting |z| > 2 hours
    — the monitoring query a pipeline runs over its ingest telemetry.

    Two hash aggregates (hour×type, then type) and a broadcast join of
    the tiny stats side back onto the hourly frame; the corpus is read
    once and everything after the first agg is type-cardinality-sized."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("sd") > 0) & (F.abs(z) > 2))
        .select(
            "event_type",
            epoch_seconds("h").alias("hour_s"),
            "n",
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "events_ttl_first_seen",
    oracle="""
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts)::BIGINT AS t FROM events
),
em AS (
  SELECT user_id, min(t) AS ts FROM e GROUP BY user_id
  UNION ALL
  SELECT e.user_id, min(e.t) AS ts
  FROM em JOIN e ON e.user_id = em.user_id AND e.t > em.ts + 21600000000
  GROUP BY e.user_id
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_emitted,
       min(ts) AS first_us, max(ts) AS last_emit_us
FROM em GROUP BY user_id
""",
)
def events_ttl_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL first-seen dedup, batch parity (VERDICT r3/r4 carried ask):
    the exact ValueState-with-TTL semantics of
    streaming/stateful.py:streaming_first_seen — per user, emit a row
    iff no EMITTED row lies within the preceding 6 h (suppressed rows
    never refresh state, so the chain jumps emit-to-emit; bucketed
    first-per-window is NOT equivalent) — run as a grouped-map Arrow
    pass so the driver value-checks the state machine against a
    recursive-CTE oracle replaying the same chain."""
    from fletcher_spark.streaming.stateful import ttl_first_seen_batch

    ev = load_tables(spark, sf_dir)["events"]
    return ttl_first_seen_batch(ev, "user_id", "ts_us", 21_600_000_000)
