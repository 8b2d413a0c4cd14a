"""Change-data-capture / slowly-changing-dimension / recursive-state
queries (registered round 5).

The warehouse-maintenance shapes a 100 TB training-data platform needs
around its corpus tables, none expressible as a single built-in
operator:

* ``cdc_merge_upsert`` — MERGE a change log into a base snapshot
  (last-writer-wins upserts + tombstone deletes), the incremental
  alternative to rewriting the full table per ingest.
* ``scd2_type_history`` — type-2 effective-dated history (valid-from /
  valid-to intervals + is_current) built from an event stream.
* ``temporal_state_join`` — facts joined to the SCD2 interval valid at
  their event time (the effective-dated dimension join).
* ``mv_incremental_agg`` — materialized-view refresh by merging
  mergeable partial aggregates (base ⊕ delta) instead of re-scanning
  history; sums are DECIMAL so the merge is bit-identical to a full
  recompute.
* ``events_ewma`` — exponentially-weighted moving average per key: a
  genuinely recursive per-group fold (each output depends on the
  previous), done as Arrow-batched ``applyInPandas`` because no
  Catalyst window frame expresses recursion without overflow-prone
  closed forms.  ``ewma_segmented`` is its hot-key-parallel
  reformulation (associative segment summaries).

Reference parity: fletcher itself stops at column compute; these cover
the surrounding table-maintenance operations its users run upstream
(pandas ``combine_first``/``groupby().apply`` territory —
/root/reference/fletcher/base.py keeps per-chunk state the same way
``events_ewma`` keeps per-group state).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.queries.registry import query


@query(
    "cdc_merge_upsert",
    oracle="""
WITH last AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rk
    FROM events) WHERE rk = 1)
SELECT
  coalesce(c.c_custkey, l.user_id)               AS custkey,
  round(coalesce(l.value, c.c_acctbal), 4)       AS acctbal,
  coalesce(l.event_type, 'unchanged')            AS status,
  CASE WHEN l.user_id IS NULL THEN 'base' ELSE 'upsert' END AS src
FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.user_id
WHERE coalesce(l.event_type, '') <> 'error'
""",
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO shape: apply a change log (events, keyed user_id) to a
    base snapshot (customer) — last writer per key wins, a key whose
    last change is ``error`` is a tombstone (deleted), untouched base
    rows pass through.

    Scale shape: the log is first collapsed to ≤1 row/key (window over
    the log only — the 100 TB base is NEVER windowed), then ONE
    key-hashed full-outer join applies it.  With the base bucketed on
    the key (io.write_training_shards style) the join reuses the
    bucket layout and only the day's delta shuffles; this is the
    standard incremental-publish pattern vs rewriting the table."""
    t = load_tables(spark, sf_dir)
    last = (
        t["events"]
        .select(
            "user_id",
            "event_type",
            "value",
            # ts then event_id makes the winner unique even when
            # timestamps collide (same tiebreak as the oracle)
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts_us").desc(), F.col("event_id").desc()
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    base = t["customer"].select("c_custkey", "c_acctbal")
    return (
        base.join(last, base.c_custkey == last.user_id, "full_outer")
        .filter(F.coalesce(F.col("event_type"), F.lit("")) != "error")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("user_id")).alias("custkey"),
            F.round(F.coalesce(F.col("value"), F.col("c_acctbal")), 4).alias("acctbal"),
            F.coalesce(F.col("event_type"), F.lit("unchanged")).alias("status"),
            F.when(F.col("user_id").isNull(), F.lit("base"))
            .otherwise(F.lit("upsert"))
            .alias("src"),
        )
    )


@query(
    "scd2_type_history",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts)::BIGINT AS ts_us, event_id
  FROM events),
chg AS (
  SELECT user_id, event_type, ts_us,
         lag(event_type) OVER w AS prev_type
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (
  SELECT user_id, event_type, ts_us AS valid_from_us
  FROM chg WHERE prev_type IS NULL OR prev_type <> event_type)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us) OVER w AS valid_to_us,
       CAST(row_number() OVER w AS BIGINT) AS version,
       (lead(valid_from_us) OVER w IS NULL) AS is_current
FROM s WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us)
""",
)
def scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from an event stream: one row
    per STATE CHANGE of event_type per user, effective-dated
    [valid_from, valid_to) with a version counter and an is_current
    flag (open interval).  Consecutive repeats of the same type are
    compressed — this is the islands start-point plus validity
    plumbing, i.e. how a dimension table tracks attribute history.

    All three window specs share the user-keyed partitioning, so the
    plan pays ONE Exchange; everything after is sort + projection
    within partitions.  No self-join — the naive SCD2 build joins the
    stream to itself on "next change", which is quadratic in run
    length."""
    e = load_tables(spark, sf_dir)["events"]
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = e.select(
        "user_id",
        "event_type",
        "ts_us",
        F.lag("event_type").over(wu).alias("prev_type"),
    ).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    ws = Window.partitionBy("user_id").orderBy("valid_from_us")
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
    ).select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(ws).alias("valid_to_us"),
        F.row_number().over(ws).cast("long").alias("version"),
        F.lead("valid_from_us").over(ws).isNull().alias("is_current"),
    )


#: EWMA smoothing factor.  0.3 and 0.7 are not exact doubles, but both
#: engines parse the same decimal literals to the same nearest double,
#: so the recursion ``0.3*x + 0.7*acc`` is bit-identical arithmetic on
#: both sides.
_ALPHA = 0.3


def _ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One user's events → one EWMA row.  The loop is per-GROUP (a few
    thousand rows each), runs the identical fp operations the oracle's
    list_reduce states, and arrives Arrow-batched."""
    pdf = pdf.sort_values(["ts_us", "event_id"])
    acc = None
    for x in pdf["value"].to_numpy():
        acc = float(x) if acc is None else _ALPHA * float(x) + (1.0 - _ALPHA) * acc
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "ewma_last": [round(acc, 4)],
        }
    )


@query(
    "events_ewma",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> {_ALPHA} * x + {1.0 - _ALPHA} * acc),
             4) AS ewma_last
FROM events GROUP BY user_id
""",
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value`` in
    event order — a RECURSIVE per-group fold (y_t = αx_t + (1-α)y_t-1)
    that no Catalyst window frame expresses safely: the closed form
    needs (1-α)^(-i) factors that overflow past ~700 rows.  Grouped
    ``applyInPandas`` keeps the recursion exact, Arrow-batched, and
    distributed by the group key; the oracle replays the identical
    fold with DuckDB ``list_reduce``.

    Scale: one user-keyed Exchange, then per-group Python on
    group-sized batches.  Skew note: a single hot key serializes into
    one task — for power-law keys pre-split by day and merge the
    per-segment (ewma, weight) pairs, the same remedy the salted join
    (queries/relational.py:join_salted_skew) demonstrates."""
    from fletcher_spark.io import widen_by_key

    e = load_tables(spark, sf_dir)["events"]
    return (
        widen_by_key(e.select("user_id", "ts_us", "event_id", "value"), "user_id")
        .groupBy("user_id")
        .applyInPandas(_ewma_group, "user_id long, n_events long, ewma_last double")
    )


@query(
    "ewma_segmented",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> {_ALPHA} * x + {1.0 - _ALPHA} * acc),
             4) AS ewma_last
FROM events GROUP BY user_id
""",
)
def ewma_segmented_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration for :func:`ewma_segmented`: the hot-key-
    parallel EWMA over the events table, checked against the same
    DuckDB ``list_reduce`` fold that oracles ``events_ewma``.  The
    closed-form suffix-weight reformulation agrees with the sequential
    fold to a few ulps per term (~1e-12 relative) and ``round(x, 4)``
    on both sides absorbs that.  Residual risk, shared with every
    order-different float aggregate under the registry's round(4)
    convention: a key whose true EWMA sits within ~1e-12 of a 0.00005
    rounding boundary would round apart — deterministic per dataset
    and verified green at the driver's sf0.01."""
    e = load_tables(spark, sf_dir)["events"]
    out = ewma_segmented(
        e.select("user_id", "ts_us", "event_id", "value"), n_segments=8
    )
    return out.select(
        "user_id", "n_events", F.round("ewma_last", 4).alias("ewma_last")
    )


def ewma_segmented(
    df: DataFrame, n_segments: int = 8
) -> DataFrame:
    """Hot-key-parallel EWMA: the scale path :func:`events_ewma`'s
    docstring promises — entirely JVM-side.

    The fold ``y_t = αx_t + (1-α)y_{t-1}`` has, for its LAST value, the
    closed form ``y_n = β^{n-1}x_1 + Σ α·β^{n-i}x_i`` with ``β = 1-α``:
    the exponents are all ≥ 0, so unlike the running-prefix form (whose
    ``β^{-i}`` factors overflow past ~700 rows, which is why
    :func:`events_ewma` folds in Python) it never overflows — old terms
    merely UNDERFLOW to 0, which is what they converge to anyway
    (``β^k < 1e-308`` for k ≳ 2000).  That makes EWMA-last a weighted
    suffix sum:

    1. each row's weight exponent is its per-SEGMENT suffix rank
       (``row_number`` descending over (user, seg)), so the rank sort is
       distributed across segments instead of serializing a hot key in
       one window partition;
    2. per (user, seg): ``m = count`` and
       ``contrib = Σ α·β^(w-1)·x`` — one hash aggregate;
    3. per user: a suffix sum over segments in order (``later_m`` =
       events in LATER segments) re-weights each segment's contrib by
       ``β^later_m`` and the global first value adds its init term
       ``β^M·x_first`` (algebra: within the first segment, contrib's
       own ``α·β^(m-1)x_1`` share plus ``β^M x_1`` sums to the closed
       form's ``β^(M-1)x_1``).

    Segment assignment is an integer TIME-RANGE bucket from a per-key
    (min, max) aggregate joined back — deliberately NOT an ntile
    window, which would sort the whole hot key in one task.  The join
    is left unhinted on purpose: the aggregate is one row per KEY, so
    AQE broadcasts it when the key set is small but must stay free to
    shuffle when there are billions of keys (a forced broadcast of a
    per-key table is itself a scale bug).  A key with 10^9 events
    sorts 10^9/S rows per task; raise ``n_segments`` for heavier
    keys.  Segments are
    time-balanced, not count-balanced — acceptable for the parallelism
    goal; swap in approx-quantile boundaries for heavy burst skew.

    Exactness: ``pow``-based weights vs the sequential fold's iterated
    multiply-adds agree to a few ulps per term (~1e-12 relative —
    asserted against the direct fold in tests/test_changedata.py).
    Replaces a two-stage ``applyInPandas`` version whose per-group
    pandas overhead dominated at 8-row segment granularity (8.4 s →
    sub-second at sf0.1).  Expects columns
    (user_id, ts_us, event_id, value)."""
    beta = 1.0 - _ALPHA
    rng = df.groupBy("user_id").agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    seg = (
        df.join(rng, "user_id")
        .select(
            "user_id",
            "ts_us",
            "event_id",
            "value",
            F.expr(
                f"CAST(((ts_us - lo) * {int(n_segments)}) DIV (hi - lo + 1) AS INT)"
            ).alias("seg"),
        )
    )
    # suffix rank within the segment: w-1 = number of later rows there
    w = F.row_number().over(
        Window.partitionBy("user_id", "seg").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
    )
    per_seg = (
        seg.withColumn("w", w)
        .groupBy("user_id", "seg")  # reuses the window's partitioning
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(
                F.lit(_ALPHA) * F.pow(F.lit(beta), F.col("w") - 1) * F.col("value")
            ).alias("contrib"),
            F.min_by("value", F.struct("ts_us", "event_id")).alias("first_val"),
        )
    )
    # M - cum_m (the later-event count this segment's contrib decays
    # through) IS the suffix sum over later segments — one ORDERED
    # window computes it directly; a second unordered total-sum window
    # would force a separate WindowExec pass (different orderSpec
    # windows don't fuse), and M itself is just sum(m) in the final agg
    uw_suffix = (
        Window.partitionBy("user_id")
        .orderBy("seg")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    terms = per_seg.select(
        "user_id",
        "seg",
        "m",
        "contrib",
        "first_val",
        F.coalesce(F.sum("m").over(uw_suffix), F.lit(0)).alias("later_m"),
    )
    return terms.groupBy("user_id").agg(
        F.sum("m").alias("n_events"),
        (
            F.sum(F.col("contrib") * F.pow(F.lit(beta), F.col("later_m")))
            # the earliest event is always in the key's lowest segment
            # (its ts defines lo → bucket 0), so min_by over seg is the
            # global first value
            + F.pow(F.lit(beta), F.sum("m")) * F.min_by("first_val", "seg")
        ).alias("ewma_last"),
    )


#: MV cutoff: everything before this is the "stored" aggregate, the
#: rest is the day's append delta (events span 2024-01).
_MV_CUT_US = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z in epoch µs


@query(
    "mv_incremental_agg",
    oracle="""
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value,
       round(max(value), 4)     AS max_value,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_value
FROM events GROUP BY user_id, event_type
""",
)
def mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: refresh a stored
    groupBy aggregate under appends by merging PARTIAL aggregates —
    base (pre-cutoff, standing in for the stored MV) ⊕ delta
    (post-cutoff append) — instead of re-scanning history.  Only
    MERGEABLE aggregates are stored (count, sum, max); avg is derived
    at read time from sum/count, never merged — the classic
    decomposition every incremental-view engine uses.

    The oracle is the FULL recompute over all events: passing means the
    merge is exactly the partial+final split Spark itself performs
    inside any hash aggregate, applied across time instead of across
    partitions.  At 100 TB the base side is a stored table scanned at
    |groups| size (not |events|), and the refresh cost is the delta's."""
    e = load_tables(spark, sf_dir)["events"]

    def _partial(df: DataFrame) -> DataFrame:
        # DECIMAL sums: exact and association-free, so base ⊕ delta is
        # bit-identical to the full recompute — float partials would
        # drift in the last bits and flip a round() at the boundary
        # (observed at sf0.01); this is the same money-math rule
        # decimal_exact_money pins
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.max("value").alias("mx"),
        )

    base = _partial(e.filter(F.col("ts_us") < _MV_CUT_US))
    delta = _partial(e.filter(F.col("ts_us") >= _MV_CUT_US))
    return (
        base.unionAll(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("s").cast("double"), 4).alias("sum_value"),
            F.round(F.max("mx"), 4).alias("max_value"),
            # avg at 6dp, not 4: the exact rational (2-decimal sum / n) can
            # land on a .xxxx5 tie at 4dp, where Spark (shortest-string
            # HALF_UP) and DuckDB (binary) round differently; at 6dp the
            # value is exactly representable for every n ≤ corpus group
            # size, so there is no tie to disagree on
            F.round(F.sum("s").cast("double") / F.sum("n"), 6).alias("avg_value"),
        )
    )


@query(
    "temporal_state_join",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts)::BIGINT AS ts_us, event_id, value
  FROM events),
chg AS (
  SELECT user_id, event_type, ts_us,
         lag(event_type) OVER w AS prev_type
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (
  SELECT user_id, event_type, ts_us AS valid_from_us
  FROM chg WHERE prev_type IS NULL OR prev_type <> event_type),
h AS (
  SELECT user_id, event_type AS state_type, valid_from_us,
         lead(valid_from_us) OVER w AS valid_to_us,
         CAST(row_number() OVER w AS BIGINT) AS version
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us))
SELECT h.user_id, h.version, h.state_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS sum_value
FROM e JOIN h
  ON e.user_id = h.user_id
 AND e.ts_us >= h.valid_from_us
 AND (h.valid_to_us IS NULL OR e.ts_us < h.valid_to_us)
GROUP BY h.user_id, h.version, h.state_type
""",
)
def temporal_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (effective-dated) dimension join: attach to every fact
    the SCD2 state version valid AT ITS EVENT TIME —
    ``fact.ts ∈ [valid_from, valid_to)`` — then aggregate per version.
    Because :func:`scd2_type_history`'s intervals tile each key's
    timeline exactly, every fact matches exactly one version (asserted
    in tests/test_changedata.py).

    Join shape: an equi-join on the KEY carries the shuffle; the
    interval predicate is evaluated inside the per-key join — never a
    BroadcastNestedLoop over the corpus (plan-asserted).  Per-key
    interval counts are bounded by that key's change count, so the
    worst case is a hot key's events × its intervals — the same skew
    surface as any fact-dimension join, handled by the same remedies
    (salting on version ranges)."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "ts_us", "event_id", "value"
    )
    h = scd2_type_history(spark, sf_dir).select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("state_type"),
        "valid_from_us",
        "valid_to_us",
        "version",
    )
    return (
        e.join(
            h,
            (F.col("user_id") == F.col("h_user"))
            & (F.col("ts_us") >= F.col("valid_from_us"))
            & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us"))),
        )
        .groupBy("user_id", "version", "state_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
    )


def _rfm_segment():
    """Segment label from (r_score, f_score, m_score) — ONE definition
    shared by the ntile and cut-point RFM twins (and mirrored verbatim
    in both SQL oracles), so a threshold change cannot silently
    de-pair the cross-check."""
    return (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new_or_returning")
        .otherwise("core")
    )


@query(
    "events_rfm_segments",
    oracle="""
WITH m AS (
  SELECT user_id,
         max(epoch_us(ts))::BIGINT AS recency_us,
         count(*)::BIGINT AS frequency,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id),
s AS (
  SELECT user_id,
         CAST(ntile(5) OVER (ORDER BY recency_us, user_id) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency, user_id)  AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary, user_id)   AS BIGINT) AS m_score
  FROM m)
SELECT user_id, r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
            ELSE 'core' END AS segment
FROM s
""",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic composite: per-key aggregate
    (Recency = last activity, Frequency = event count, Monetary =
    decimal-exact value sum) → per-metric quintile scores → rule-based
    segment labels.  The monetary sum is DECIMAL so the quantile
    ORDERING can never disagree across engines on float summation
    noise; every ntile gets a user_id tiebreak.

    The three ntiles are global sorts over the per-key AGGREGATE (one
    row per user — dimension-sized, not corpus-sized); at a corpus
    where even the aggregate is huge, swap ntile for approx_percentile
    cut points + a map-side bucket assignment, the same trade
    histogram_equidepth documents."""
    e = load_tables(spark, sf_dir)["events"]
    m = e.groupBy("user_id").agg(
        F.max("ts_us").alias("recency_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("monetary"),
    )
    s = m.select(
        "user_id",
        F.ntile(5).over(Window.orderBy("recency_us", "user_id")).cast("long").alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).cast("long").alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).cast("long").alias("m_score"),
    )
    return s.select(
        "user_id", "r_score", "f_score", "m_score", _rfm_segment().alias("segment")
    )


@query(
    "events_rfm_segments_cuts",
    oracle="""
WITH m AS (
  SELECT user_id,
         max(epoch_us(ts))::BIGINT AS recency_us,
         count(*)::BIGINT AS frequency,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id),
iz  AS (SELECT unnest(range(1, 5)) AS i),
-- per-metric n = that metric's NON-NULL count (sum over its own
-- histogram), mirroring exact_cut_points_multi exactly — a global
-- count(*) would diverge the moment any user had a NULL metric
rh AS (SELECT recency_us::DOUBLE AS x, count(*) AS c FROM m
       WHERE recency_us IS NOT NULL GROUP BY 1),
rn AS (SELECT sum(c) AS n FROM rh),
rcum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cw FROM rh),
rcuts AS (SELECT list(cut ORDER BY i) AS cl FROM (
  SELECT i, min(x) AS cut FROM rcum CROSS JOIN rn CROSS JOIN iz
  WHERE cw >= ceil(i * n / 5.0) GROUP BY i)),
fh AS (SELECT frequency::DOUBLE AS x, count(*) AS c FROM m
       WHERE frequency IS NOT NULL GROUP BY 1),
fn AS (SELECT sum(c) AS n FROM fh),
fcum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cw FROM fh),
fcuts AS (SELECT list(cut ORDER BY i) AS cl FROM (
  SELECT i, min(x) AS cut FROM fcum CROSS JOIN fn CROSS JOIN iz
  WHERE cw >= ceil(i * n / 5.0) GROUP BY i)),
mh AS (SELECT monetary::DOUBLE AS x, count(*) AS c FROM m
       WHERE monetary IS NOT NULL GROUP BY 1),
mn AS (SELECT sum(c) AS n FROM mh),
mcum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cw FROM mh),
mcuts AS (SELECT list(cut ORDER BY i) AS cl FROM (
  SELECT i, min(x) AS cut FROM mcum CROSS JOIN mn CROSS JOIN iz
  WHERE cw >= ceil(i * n / 5.0) GROUP BY i)),
s AS (
  SELECT user_id,
         CAST(1 + len(list_filter(rcuts.cl, c -> recency_us::DOUBLE > c)) AS BIGINT) AS r_score,
         CAST(1 + len(list_filter(fcuts.cl, c -> frequency::DOUBLE  > c)) AS BIGINT) AS f_score,
         CAST(1 + len(list_filter(mcuts.cl, c -> monetary::DOUBLE   > c)) AS BIGINT) AS m_score
  FROM m CROSS JOIN rcuts CROSS JOIN fcuts CROSS JOIN mcuts)
SELECT user_id, r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
            ELSE 'core' END AS segment
FROM s
""",
)
def events_rfm_segments_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for RFM scoring (the two-path treatment
    events_rfm_segments' docstring promises): per-metric quintile cut
    points from :func:`exact_cut_points` (two-level histogram prefix
    sum — no global ntile sort even when the per-user aggregate is
    billions of rows), broadcast 3×4 cuts, then ONE map-only pass
    assigns all three scores and the segment label.  Ties share a
    score under cut semantics — the documented divergence from ntile's
    row-exact split."""
    from fletcher_spark.operators.agg import (
        assign_cut_buckets,
        exact_cut_points_multi,
    )

    e = load_tables(spark, sf_dir)["events"]
    m = e.groupBy("user_id").agg(
        F.max("ts_us").alias("recency_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("monetary"),
    ).persist()  # feeds the melted cut pass (consumed eagerly at
    # construction — exact_cut_points_multi materializes) + the scoring
    # pass at execution: one events scan total.  Lifetime: LRU contract
    # (the returned plan references it, so the query can't unpersist)
    cuts = exact_cut_points_multi(
        m, ["recency_us", "frequency", "monetary"], 5
    )  # ONE histogram pipeline for all three metrics (constant job count)
    s = m.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        assign_cut_buckets("recency_us", "recency_us_cuts").alias("r_score"),
        assign_cut_buckets("frequency", "frequency_cuts").alias("f_score"),
        assign_cut_buckets("monetary", "monetary_cuts").alias("m_score"),
    )
    return s.select(
        "user_id", "r_score", "f_score", "m_score", _rfm_segment().alias("segment")
    )
