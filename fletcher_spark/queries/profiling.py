"""Dataset-profiling and graph-analytics queries (registered round 5).

``profile_documents`` / ``skew_report_lineitem`` expose the one-pass
ANALYZE utilities (operators/profile.py) as driver-checked queries —
exact-distinct mode for value parity, approx documented as the 100 TB
default.  ``pagerank_nation_trade`` runs two unrolled PageRank
iterations over the customer-nation → supplier-nation trade graph —
the second iterative graph algorithm after connected components
(operators/graph.py), all joins + aggregates, no driver-side loop over
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.operators.profile import key_skew_report, profile
from fletcher_spark.queries.registry import query


@query(
    "profile_documents",
    oracle="""
SELECT 'doc_id' AS column, 'bigint' AS dtype,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
FROM documents
UNION ALL
SELECT 'text', 'string', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT),
       CAST(count(DISTINCT text) AS BIGINT),
       CAST(min(length(text)) AS VARCHAR), CAST(max(length(text)) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'lang', 'string', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT),
       CAST(count(DISTINCT lang) AS BIGINT),
       CAST(min(length(lang)) AS VARCHAR), CAST(max(length(lang)) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'source', 'string', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE source IS NULL) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT),
       CAST(min(length(source)) AS VARCHAR), CAST(max(length(source)) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'n_chars', 'bigint', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE n_chars IS NULL) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
""",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the documents table — the ANALYZE
    statistics a pipeline consults before planning (dead columns, null
    rates, key cardinalities, value ranges).

    ONE wide aggregate over ONE scan (operators/profile.py) — never a
    job per column; the long-form reshape explodes a single row.
    Exact-distinct mode here so DuckDB value-parity holds; production
    default is HyperLogLog (``distinct="approx"``), whose estimates
    have no cross-engine contract.  The mean column is dropped from
    the contract because engines format doubles differently — min/max
    here are integers (values or lengths), which print identically."""
    d = load_tables(spark, sf_dir)["documents"]
    return profile(d, distinct="exact").select(
        "column",
        "dtype",
        "n_rows",
        "n_nulls",
        F.col("approx_distinct").alias("n_distinct"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
    )


@query(
    "skew_report_lineitem",
    oracle="""
WITH t AS (SELECT count(*) AS total FROM lineitem)
SELECT l_suppkey AS key_value, CAST(count(*) AS BIGINT) AS n_rows,
       round(count(*) / any_value(t.total), 6) AS share
FROM lineitem, t
GROUP BY l_suppkey
ORDER BY n_rows DESC, key_value
LIMIT 10
""",
)
def skew_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter report for a prospective join key (l_suppkey): the
    top-10 keys with their share of all rows — the number that decides
    between AQE skew-join and an explicit salt (operators/skew.py).

    One map-side-combined hash aggregate + broadcast 1-row total +
    TakeOrdered top-k (plan-asserted in tests/test_profile.py) — the
    corpus is scanned once and never globally sorted."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return key_skew_report(li, "l_suppkey", top=10)


def _pagerank_oracle() -> str:
    edges = """
e AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         count(*)::DOUBLE AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
),
outw AS (SELECT src, sum(w) AS tot FROM e GROUP BY src),
norm AS MATERIALIZED (
  SELECT e.src, e.dst, e.w / outw.tot AS p
  FROM e JOIN outw ON e.src = outw.src
),
nodes AS (SELECT n_nationkey AS node FROM nation),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)"""
    iterate = """
r{k} AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
           + 0.85 * coalesce(sum(r{p}.pr * norm.p), 0) AS pr
  FROM nodes
  LEFT JOIN norm ON norm.dst = nodes.node
  LEFT JOIN r{p} ON r{p}.node = norm.src
  GROUP BY nodes.node
)"""
    return (
        "WITH "
        + edges
        + ",\nr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),"
        + iterate.format(k=1, p=0)
        + ","
        + iterate.format(k=2, p=1)
        + """
SELECT r2.node AS nationkey, n.n_name AS nation, round(r2.pr, 6) AS pagerank
FROM r2 JOIN nation n ON n.n_nationkey = r2.node
"""
    )


@query("pagerank_nation_trade", oracle=_pagerank_oracle())
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations (d=0.85) over the
    customer-nation → supplier-nation trade graph — the influence
    ranking a marketplace would compute, and the repo's second
    iterative graph algorithm after connected components.

    Edge derivation is the q7 join chain collapsed to a (src, dst,
    weight) aggregate — |nations|² rows max, so every rank round is a
    broadcast join of the rank vector against the edge table plus one
    dst-keyed aggregate: the iteration never shuffles the fact tables
    again, which is the property that makes DataFrame PageRank viable
    at billions of edges (ranks and edges shuffle, facts do not).
    Dangling mass is handled per the classic formulation: nodes with no
    in-edges get the teleport term via the left join + coalesce."""
    t = load_tables(spark, sf_dir)
    e = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("tot"))
    norm = e.join(outw, "src").select("src", "dst", (F.col("w") / F.col("tot")).alias("p"))
    norm = norm.persist()

    nodes = t["nation"].select(F.col("n_nationkey").alias("node"))
    n_nodes = nodes.count()  # |nations| — a metadata scalar, not data
    pr = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(2):
        contrib = (
            norm.join(F.broadcast(pr), F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("mass"))
        )
        pr = (
            nodes.join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.lit(0.15 / n_nodes) + F.lit(0.85) * F.coalesce("mass", F.lit(0.0))).alias("pr"),
            )
        )
    return (
        pr.join(t["nation"], F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("node").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.round("pr", 6).alias("pagerank"),
        )
    )


def _labelprop_oracle(iters: int = 2) -> str:
    """Unroll synchronous label propagation as SQL CTEs: undirected
    trade edges with exact BIGINT weights, argmax-neighbor-label with
    (weight desc, label asc) tiebreak, isolated nodes keep their
    label."""
    parts = [
        # same-nation filter AFTER the group-by (src <> dst over the
        # grouped keys ⟺ the original per-row predicate) — an in-join
        # cross-table inequality invites DuckDB's optimizer to reorder
        # it into a customer×supplier near-cross-product at 10×+ scales
        # (caught r13 on _TRI_ORACLE; see sketches._TRADE_SQL)
        # MATERIALIZED: DuckDB inlines unmaterialized CTEs per
        # reference, and ``und`` (via ``e``/``sym``) is re-read by
        # every unrolled iteration — unhinted, each reference re-runs
        # the 6M-row fact join at 10× scale (same lesson as
        # sketches._TRI_ORACLE, r13)
        """e0 AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*)::BIGINT AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
)""",
        "e AS MATERIALIZED (SELECT src, dst, w FROM e0 WHERE src <> dst)",
        "sym AS (SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e)",
        "und AS (SELECT src, dst, sum(w) AS w FROM sym GROUP BY src, dst)",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"""s{k} AS (
  SELECT und.src AS node, l{p}.lbl AS lbl, sum(und.w) AS wt
  FROM und JOIN l{p} ON l{p}.node = und.dst
  GROUP BY und.src, l{p}.lbl
)"""
        )
        parts.append(
            f"""l{k} AS (
  SELECT nodes.node, coalesce(pick.lbl, prev.lbl) AS lbl
  FROM nodes
  JOIN l{p} prev ON prev.node = nodes.node
  LEFT JOIN (
    SELECT node, lbl FROM (
      SELECT node, lbl,
             row_number() OVER (PARTITION BY node ORDER BY wt DESC, lbl) AS rk
      FROM s{k}) WHERE rk = 1) pick ON pick.node = nodes.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT l{iters}.node AS nationkey, n.n_name AS nation,
       l{iters}.lbl AS community
FROM l{iters} JOIN nation n ON n.n_nationkey = l{iters}.node
"""
    )


@query("labelprop_nation_communities", oracle=_labelprop_oracle())
def labelprop_nation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds over the UNDIRECTED
    nation trade graph — community detection, the third iterative graph
    algorithm after connected components and PageRank.  Each node
    adopts the label carrying the largest total edge weight among its
    neighbors (ties -> smallest label; isolated nodes keep their own).

    Determinism across engines: edge weights are BIGINT trade counts
    (exact — no float accumulation anywhere), and the argmax is a
    (weight desc, label asc) row_number, so both engines pick identical
    labels every round.  Scale shape matches PageRank's: facts shuffle
    ONCE into the |nations|^2-bounded edge aggregate; each round is a
    broadcast of the label vector (|nodes| rows, model-sized) against
    the edge table plus one node-keyed aggregate — at billions of
    edges swap the broadcast for a src-keyed shuffle join and the
    rounds still never re-read the facts."""
    t = load_tables(spark, sf_dir)
    e = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = (
        e.select("src", "dst", "w")
        .unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    # materialize: both rounds' vote joins (and their broadcast-build
    # jobs) otherwise race the in-flight cache and each re-run the
    # fact-join edge aggregate (r13; same fix as candidate_pairs)
    und.count()
    nodes = t["nation"].select(F.col("n_nationkey").alias("node"))
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    wn = Window.partitionBy("node").orderBy(F.col("wt").desc(), F.col("lbl").asc())
    for _ in range(2):
        votes = (
            und.join(
                F.broadcast(lbl.select(F.col("node").alias("nb"), "lbl")),
                F.col("nb") == F.col("dst"),
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.sum("w").alias("wt"))
        )
        pick = (
            votes.select("node", "lbl", F.row_number().over(wn).alias("rk"))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        lbl = (
            lbl.select("node", F.col("lbl").alias("prev"))
            .join(pick.select(F.col("node").alias("pn"), "lbl"),
                  F.col("pn") == F.col("node"), "left")
            .select("node", F.coalesce("lbl", "prev").alias("lbl"))
        )
    return (
        lbl.join(t["nation"], F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("node").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("lbl").alias("community"),
        )
    )


@query(
    "events_cooccurrence_lift",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT count(DISTINCT user_id) AS n FROM events),
s AS (SELECT event_type, count(*) AS c FROM ut GROUP BY event_type),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_co
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY type_a, type_b)
SELECT p.type_a, p.type_b, CAST(p.n_co AS BIGINT) AS n_co,
       round(p.n_co::DOUBLE / nu.n, 4) AS support,
       round((p.n_co::DOUBLE * nu.n) / (sa.c * sb.c), 4) AS lift
FROM p
JOIN s sa ON sa.event_type = p.type_a
JOIN s sb ON sb.event_type = p.type_b, nu
""",
)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every unordered pair of event
    types, the number of users exhibiting both, the pair's support, and
    its LIFT (P(ab)/(P(a)P(b)) — >1 means the behaviors attract, <1
    they repel).  The set-based counterpart of the SEQUENTIAL
    transition matrix (events_transition_matrix): order within the
    user's history is deliberately ignored.

    Scale shape: the corpus collapses to the distinct (user, type)
    pairs FIRST (hash-agg, bounded by |users|x|types|), the pair join
    runs on that reduced table keyed by user, and the singles table +
    user count are |types|-sized broadcasts.  Lift's inputs are all
    exact integers, so the derived doubles are bit-identical across
    engines."""
    e = load_tables(spark, sf_dir)["events"]
    ut = e.select("user_id", "event_type").distinct()
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    n_users = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("n_co").cast("long").alias("n_co"),
            F.round(F.col("n_co").cast("double") / F.col("n"), 4).alias("support"),
            F.round(
                (F.col("n_co").cast("double") * F.col("n"))
                / (F.col("ca") * F.col("cb")),
                4,
            ).alias("lift"),
        )
    )


@query(
    "mad_outlier_docs",
    oracle="""
WITH med AS (
  SELECT source, median(n_chars) AS med FROM documents GROUP BY source
),
dev AS (
  SELECT d.source, d.doc_id, d.n_chars, med.med,
         abs(d.n_chars - med.med) AS adev
  FROM documents d JOIN med USING (source)
),
mad AS (SELECT source, median(adev) AS mad FROM dev GROUP BY source)
SELECT dev.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(min(mad.mad), 4) AS mad,
       CAST(count(*) FILTER (WHERE dev.adev > 3 * mad.mad) AS BIGINT) AS n_outliers,
       min(dev.doc_id) FILTER (WHERE dev.adev > 3 * mad.mad) AS first_outlier
FROM dev JOIN mad ON dev.source = mad.source
GROUP BY dev.source
""",
)
def mad_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per source: median absolute deviation
    (MAD), the robust-statistics cousin of winsorize_doc_lengths — a
    handful of mega-docs can't move the median the way they move a
    mean/stddev, so the 3×MAD fence stays put under contamination.

    Two grouped exact medians via the VALUE-HISTOGRAM path
    (operators/agg.py:exact_quantiles — keyed-window cumulative ranks,
    distributed across sources, no group-buffering ``median()``
    aggregate) with a broadcast-sized |sources|-row table joined back
    between them; columns with unbounded distinct cardinality would
    swap in ``percentile_approx(.., 0.5)`` (same sketch as
    operators/agg.py:median_approx)."""
    from fletcher_spark.operators.agg import exact_quantiles

    d = load_tables(spark, sf_dir)["documents"]
    med = exact_quantiles(d, "n_chars", {"med": 0.5}, ("source",))
    dev = d.join(F.broadcast(med), "source").select(
        "source", "doc_id", "n_chars", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = exact_quantiles(dev, "adev", {"mad": 0.5}, ("source",))
    j = dev.join(F.broadcast(mad), "source")
    is_out = F.col("adev") > 3 * F.col("mad")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("mad"), 4).alias("mad"),
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.min(F.when(is_out, F.col("doc_id"))).alias("first_outlier"),
    )


@query(
    "corpus_drift_chi2",
    oracle="""
WITH obs AS (
  SELECT lang, source, count(*)::DOUBLE AS o FROM documents GROUP BY lang, source
),
tot AS (SELECT count(*)::DOUBLE AS n FROM documents),
lm AS (SELECT lang, sum(o) AS lo FROM obs GROUP BY lang),
sm AS (SELECT source, sum(o) AS so FROM obs GROUP BY source)
SELECT obs.lang,
       CAST(sum(obs.o) AS BIGINT) AS n_docs,
       round(sum(power(obs.o - lm.lo * sm.so / (SELECT n FROM tot), 2)
                 / (lm.lo * sm.so / (SELECT n FROM tot))), 4) AS chi2_contrib
FROM obs JOIN lm USING (lang) JOIN sm USING (source)
GROUP BY obs.lang
""",
)
def corpus_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift detection: chi-square statistic of the lang ×
    source contingency table, reported as per-language contributions —
    the monitoring check that catches a crawl source suddenly shifting
    its language mix (independence would make every contribution small).

    One (lang, source) hash aggregate — |cells| rows — then marginals
    and expected counts derived from that tiny table; the corpus is
    scanned ONCE.  Cell contributions are Σ over ≤|sources| doubles per
    language, rounded for cross-engine summation-order tolerance."""
    d = load_tables(spark, sf_dir)["documents"]
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("double").alias("o"))
    obs = obs.persist()
    tot = obs.agg(F.sum("o").alias("n"))
    lm = obs.groupBy("lang").agg(F.sum("o").alias("lo"))
    sm = obs.groupBy("source").agg(F.sum("o").alias("so"))
    exp = (
        obs.join(F.broadcast(lm), "lang")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "o",
            (F.col("lo") * F.col("so") / F.col("n")).alias("e"),
        )
    )
    return exp.groupBy("lang").agg(
        F.sum("o").cast("long").alias("n_docs"),
        F.round(F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 4).alias("chi2_contrib"),
    )


@query(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, count(*)::DOUBLE AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
r AS (SELECT prev_type, sum(n) AS tot FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n_transitions,
       round(t.n / r.tot, 6) AS prob
FROM t JOIN r USING (prev_type)
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov estimate): per
    user, consecutive event pairs via a lag window, then row-normalized
    transition probabilities — the sequence-modeling prep for session
    simulation and anomaly scoring (an improbable transition chain
    flags bot traffic).

    One user-keyed shuffle for the lag window; the transition counts
    are a |types|² aggregate, and normalization joins against the
    |types|-row marginal — everything after the window is
    dimension-sized.  Deterministic ordering tiebreak on event_id."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = t["events"].select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    marg = trans.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(marg), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n") / F.col("tot"), 6).alias("prob"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
WITH s AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS t_next
  FROM events
),
w AS (
  SELECT user_id, value, (t_next - t)::DOUBLE AS dur
  FROM s WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       round(sum(value * dur) / sum(dur), 6) AS twap
FROM w GROUP BY user_id
HAVING sum(dur) > 0
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each reading is
    weighted by how long it was current (until the next event) — the
    correct aggregate for irregularly-sampled series, where a plain
    mean over-weights bursts.

    One user-keyed window (lead) then a hash aggregate; durations are
    exact integer microsecond differences, so the only float work is
    the final weighted ratio.  The sum-of-products per user accumulates
    in engine-specific order — round(6) absorbs the 1e-15 drift."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = t["events"].select(
        "user_id", "value", "ts_us", F.lead("ts_us").over(w).alias("t_next")
    )
    iv = s.filter(F.col("t_next").isNotNull()).select(
        "user_id", "value", (F.col("t_next") - F.col("ts_us")).cast("double").alias("dur")
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            (F.sum(F.col("value") * F.col("dur")) / F.sum("dur")).alias("twap_raw"),
            F.sum("dur").alias("tot_dur"),
        )
        .filter(F.col("tot_dur") > 0)
        .select("user_id", "n_intervals", F.round("twap_raw", 6).alias("twap"))
    )


@query(
    "docid_gap_ranges",
    oracle="""
WITH k AS (
  SELECT doc_id,
         lead(doc_id) OVER (ORDER BY doc_id) AS next_id
  FROM (SELECT doc_id FROM documents WHERE doc_id % 3 != 0)
)
SELECT doc_id + 1 AS gap_start, next_id - 1 AS gap_end,
       CAST(next_id - doc_id - 1 AS BIGINT) AS gap_len
FROM k WHERE next_id - doc_id > 1
""",
)
def docid_gap_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over a key expected to be dense (here a
    filtered doc_id stream stands in for a partition with holes): emit
    each missing [start, end] range — the data-quality audit that
    catches dropped shards after an ingest.

    lead() over a GLOBAL order is the textbook formulation and fine at
    audit sizes; the plan funnels through one partition (flagged by the
    scale linter), so the documented 100 TB path buckets first:
    range-partition the key, detect gaps within partitions, and check
    the |partitions| boundary pairs separately — same output, shuffle
    instead of funnel."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 3 != 0)
    w = Window.orderBy("doc_id")
    k = d.select("doc_id", F.lead("doc_id").over(w).alias("next_id"))
    return k.filter(F.col("next_id") - F.col("doc_id") > 1).select(
        (F.col("doc_id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("doc_id") - 1).alias("gap_len"),
    )


@query(
    "docid_gap_ranges_bucketed",
    oracle="""
WITH k AS (
  SELECT doc_id,
         lead(doc_id) OVER (ORDER BY doc_id) AS next_id
  FROM (SELECT doc_id FROM documents WHERE doc_id % 3 != 0)
)
SELECT doc_id + 1 AS gap_start, next_id - 1 AS gap_end,
       CAST(next_id - doc_id - 1 AS BIGINT) AS gap_len
FROM k WHERE next_id - doc_id > 1
""",
)
def docid_gap_ranges_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path docid_gap_ranges' docstring promises — same gap
    set, no global-order lead: range-bucket the key (``doc_id div B``),
    find gaps WITHIN each bucket under a bucket-keyed window, then link
    consecutive non-empty buckets through a lead over the per-bucket
    (min, max) summary, never the table.

    ``B`` is ADAPTIVE (r6, VERDICT r5 "what's wrong" #1): a fixed B=64
    shrank the boundary-window input by a constant factor only — still
    a table/64 single-partition sort at 100× scale.  Now
    ``B = max(64, ceil(sqrt(span)))`` where span = max−min of the key,
    computed IN-PLAN by a one-row aggregate broadcast back onto the
    scan — both levels are then ≤ √span rows: the in-bucket windows
    hold ≤ B keys each and the boundary window ≤ span/B ≈ √span
    summary rows.  Because the divisor is a COLUMN (not a literal), the
    funnel linter's fixed-ratio rule (plans/lint.py) mechanically
    distinguishes this plan from the B=64 shape it bans.  A gap
    spanning entire empty buckets falls out naturally: absent buckets
    simply aren't summary rows, so the boundary pair jumps straight
    across them.  The oracle is the textbook global-lead formulation —
    identical output, different plan, which is exactly what makes this
    pair a cross-check."""
    from pyspark.sql import Window

    base = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id")
    )
    bsz = base.agg(
        F.greatest(
            F.lit(64),
            F.ceil(F.sqrt(F.max("doc_id") - F.min("doc_id") + F.lit(1))),
        ).alias("bsz")
    )
    d = base.crossJoin(F.broadcast(bsz)).select(
        "doc_id", F.floor(F.col("doc_id") / F.col("bsz")).alias("bk")
    )
    w_in = Window.partitionBy("bk").orderBy("doc_id")
    inner = d.select("doc_id", F.lead("doc_id").over(w_in).alias("next_id"))
    summ = d.groupBy("bk").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    w_b = Window.orderBy("bk")  # |buckets| rows — aggregate-sized input
    bound = summ.select(
        F.col("mx").alias("doc_id"), F.lead("mn").over(w_b).alias("next_id")
    )
    gaps = inner.unionByName(bound).filter(
        F.col("next_id") - F.col("doc_id") > 1
    )
    return gaps.select(
        (F.col("doc_id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("doc_id") - 1).alias("gap_len"),
    )


@query(
    "event_type_islands",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rt
  FROM events
),
g AS (SELECT user_id, event_type, rn - rt AS grp, t, event_id FROM s),
runs AS (
  SELECT user_id, event_type, grp,
         CAST(count(*) AS BIGINT) AS run_len,
         min(event_id) AS first_event
  FROM g GROUP BY user_id, event_type, grp
)
SELECT user_id, event_type, run_len, first_event
FROM runs WHERE run_len >= 3
""",
)
def event_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of the SAME consecutive event
    type per user (run length ≥ 3) via the classic two-row_number
    difference trick — consecutive equal values share ``rn − rt``.
    This is how repeated-action streaks (rage clicks, retry storms,
    bot loops) are detected without any iterative logic.

    Both row_numbers share the user-keyed shuffle and sort (same
    partition key, compatible order), the island group-by is a hash
    aggregate — two window specs, ONE Exchange."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    s = t["events"].select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(wu) - F.row_number().over(wt)).alias("grp"),
    )
    return (
        s.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("event_id").alias("first_event"),
        )
        .filter(F.col("run_len") >= 3)
        .select("user_id", "event_type", "run_len", "first_event")
    )


@query(
    "fk_orphan_audit",
    oracle="""
SELECT 'lineitem->orders' AS relation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
FROM lineitem l
UNION ALL
SELECT 'orders->customer',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
FROM orders o
""",
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: count fact rows whose foreign key
    has no parent (lineitem→orders, orders→customer) — the check that
    runs after every bulk load, because a silently-dropped parent
    partition turns inner joins into data loss downstream.

    Each relation is ONE pass: the fact side pre-aggregates to
    (fk, row-count) — a map-side-combined hash aggregate — so the join
    shuffles DISTINCT-key volume, not fact-row volume (lineitem carries
    ~4 rows per order; the r10 100× probe measured the row-level join
    form at 35.8 s on 60 M rows).  Orphans are the
    fk-groups with no parent after a left join against the distinct
    parent keys, weighted by their row counts; a healthy audit
    returning zeros is still value-checked by the oracle, which states
    the same NOT EXISTS semantics.  NULL foreign keys never match a
    parent (both engines), so they count as orphans in both forms."""
    t = load_tables(spark, sf_dir)

    def audit(fact, fk, dim, pk, name):
        fact_keys = fact.groupBy(F.col(fk)).agg(F.count(F.lit(1)).alias("cnt"))
        parents = dim.select(F.col(pk)).distinct()
        return (
            fact_keys.join(parents, F.col(fk) == F.col(pk), "left")
            .agg(
                F.lit(name).alias("relation"),
                F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col(pk).isNull(), F.col("cnt"))), F.lit(0)
                ).alias("n_orphans"),
            )
            .select("relation", "n_rows", "n_orphans")
        )

    a = audit(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey", "lineitem->orders")
    b = audit(t["orders"], "o_custkey", t["customer"], "c_custkey", "orders->customer")
    return a.unionByName(b)


@query(
    "source_vocab_overlap",
    oracle="""
WITH v AS (
  SELECT DISTINCT source, unnest(string_split_regex(text, '\\s+')) AS tok
  FROM documents
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY src_a, src_b
)
SELECT i.src_a, i.src_b, i.n_common,
       round(i.n_common / (sa.n + sb.n - i.n_common), 4) AS jaccard
FROM inter i
JOIN sz sa ON sa.source = i.src_a
JOIN sz sb ON sb.source = i.src_b
WHERE i.n_common >= 1
""",
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources (Jaccard over
    distinct token sets) — the corpus-similarity matrix that informs
    mixing weights (near-identical sources shouldn't both get full
    budget; see mix_temperature_sampling) and flags scraped mirrors.

    The pair join is TOKEN-keyed: each token contributes only the
    sources that contain it (≤|sources|² per token, |sources| is small
    by definition), so the corpus is never self-joined — the same
    bucket-join discipline as the dedup family, with the token as the
    bucket.  Set sizes join back broadcast; at web scale the distinct
    (source, token) table is the one shuffle that matters and it is
    |vocab|-bounded per source."""
    d = load_tables(spark, sf_dir)["documents"]
    from fletcher_spark.pipeline import textpipe as T

    v = (
        d.select("source", F.explode(T.tokens("text")).alias("tok"))
        .distinct()
        .persist()
    )
    # NOT materialized (r13 wave 8 A/B): an explicit v.count() before
    # the fanout measured 1.26 → 1.88 s warm / flat cold — the cache
    # write+count job costs more than the racing consumers' recompute
    # of the explode+distinct (each re-read is itself cache-backed
    # after the first materializes it)
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    sb = F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4).alias("jaccard"),
        )
    )


@query(
    "cust_quartiles_keyed_lazy",
    oracle="""
WITH v AS (
  SELECT o_custkey, o_totalprice::DOUBLE AS x FROM orders
  WHERE o_totalprice IS NOT NULL
),
h AS (SELECT o_custkey, x, count(*) AS c FROM v GROUP BY 1, 2),
cum AS (
  SELECT o_custkey, x, sum(c) OVER (PARTITION BY o_custkey ORDER BY x) AS cw
  FROM h
),
nn AS (SELECT o_custkey, count(*) AS n FROM v GROUP BY 1),
cuts AS (
  SELECT cum.o_custkey,
         min(x) FILTER (WHERE cw >= ceil(1 * n / 4.0)) AS q1,
         min(x) FILTER (WHERE cw >= ceil(2 * n / 4.0)) AS med,
         min(x) FILTER (WHERE cw >= ceil(3 * n / 4.0)) AS q3
  FROM cum JOIN nn USING (o_custkey) GROUP BY 1
)
SELECT v.o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(q1), 2) AS q1,
       round(min(med), 2) AS med,
       round(min(q3), 2) AS q3,
       CAST(count(*) FILTER (WHERE x >= q1 AND x <= q3) AS BIGINT) AS n_in_iqr
FROM v JOIN cuts USING (o_custkey)
GROUP BY v.o_custkey
""",
)
def cust_quartiles_keyed_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-price quartiles on the LAZY keyed-cuts path
    (VERDICT r6 ask #6): ``exact_cut_points_by_key`` over a
    NON-dimension key (``o_custkey`` — corpus-cardinality, 10× fewer
    rows than orders but unboundedly many at scale), so the cut table
    must NOT be driver-collected or broadcast — ``materialize=False``
    keeps it a distributed frame and the application is a plain
    shuffle join on the key (plan-asserted non-broadcast in
    tests/test_plans.py).  Rank-cut semantics match
    winsorize_by_source_cuts: ``cut_i`` = smallest value whose
    within-key cumulative count ≥ ``ceil(i·n/4)``; output per customer
    is the quartile triple plus the count of orders inside [q1, q3].

    Scale: histogram and both prefix-sum windows partition by
    (custkey, coarse-bucket); the join-back shuffles on the same key
    the cut table is already keyed by.  Nothing is collected, nothing
    is broadcast, no window sees more than one customer's histogram
    slice."""
    from fletcher_spark.operators.agg import exact_cut_points_by_key

    o = load_tables(spark, sf_dir)["orders"].select("o_custkey", "o_totalprice")
    cuts = exact_cut_points_by_key(
        o, ["o_custkey"], "o_totalprice", 4, materialize=False
    )
    band = cuts.select(
        "o_custkey",
        F.element_at("cuts", 1).alias("q1"),
        F.element_at("cuts", 2).alias("med"),
        F.element_at("cuts", 3).alias("q3"),
    )
    x = F.col("o_totalprice").cast("double")
    return (
        o.filter(F.col("o_totalprice").isNotNull())
        .join(band, "o_custkey")  # shuffle join: the lazy, non-broadcast path
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("q1"), 2).alias("q1"),
            F.round(F.min("med"), 2).alias("med"),
            F.round(F.min("q3"), 2).alias("q3"),
            F.sum(((x >= F.col("q1")) & (x <= F.col("q3"))).cast("long")).alias(
                "n_in_iqr"
            ),
        )
    )
