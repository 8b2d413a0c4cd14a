"""Mergeable-sketch and graph-analytics queries (registered round 6).

Three operators a 100 TB pipeline leans on when exact state is too big:

* ``sketch_cms_heavyhitters`` — Count-Min Sketch frequency estimation.
  The sketch is a (depth × width) counter grid; Spark's map-side
  partial aggregation IS the sketch merge (every partition builds its
  local grid, the shuffle adds grids cell-wise), so the full pass over
  the fact table reduces to ``depth × width`` rows regardless of input
  size.  Estimates are deterministic given the hash family, so the
  DuckDB oracle reproduces them bit-for-bit — including the
  overestimation error, which the query surfaces next to exact counts.
* ``sketch_bloom_membership`` — explicit Bloom-filter build + probe
  (complementing the *runtime* Bloom join pruning Spark injects, which
  tests/test_runtime_filters.py covers).  The built filter is the
  DISTINCT set of set bit positions — at m = 16 Ki bits it broadcasts,
  and membership is a count-of-matched-positions == k predicate.
  False negatives are impossible by construction; the query's
  ``verdict`` column proves it on real data (no ``fn`` row can appear
  unless the implementation is wrong — making the query self-checking).
* ``graph_triangle_count`` — triangle counting with DEGREE ORDERING
  (orient each undirected edge from the lower-(degree, id) endpoint to
  the higher one, then join wedges against oriented edges).  Degree
  orientation is what makes DataFrame triangle counting viable on
  skewed graphs: every wedge pivot fans out over out-degree, and
  orientation caps out-degree at O(sqrt(|E|)) — the arboricity bound —
  instead of the raw degree of hub nodes.

* ``sketch_kmv_distinct`` — k-minimum-values distinct-count sketch.
  The deterministic alternative to HyperLogLog for cross-engine
  estimation: the sketch is the k smallest distinct hash values, the
  estimate is ``(k−1)/u_k`` (u_k = the k-th smallest normalized
  hash), and union-merge is LOSSLESS — the k smallest hashes of a
  union are all present in the per-part sketches (each is among its
  own part's k smallest), so merged == direct-global, which the
  query's 'ALL' row and test_sketches.py pin.  HLL's estimate depends
  on implementation-specific register layouts, so it can never be
  oracle-checked across engines; KMV under the md5 family can.

Hash family: ``int(hex8(md5(seed || '|' || key)))`` — the repo's
standard engine-portable hash (Spark ``conv(substring(md5(..),1,8),
16,10)`` == DuckDB ``('0x' || substr(md5(..),1,8))::BIGINT``).
Reference surface: fletcher has no sketch module; these extend the
LLM-pipeline tier (SURVEY.md §6) with the standard streaming-summary
primitives (Cormode & Muthukrishnan '05; Bloom '70; Bar-Yossef et
al. '02 for KMV).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.operators import sketch as SK
from fletcher_spark.queries.registry import query

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def _h_sql(seed, key_expr, mod):
    return (
        f"('0x' || substr(md5('{seed}' || '|' || ({key_expr})::VARCHAR), 1, 8))"
        f"::BIGINT % {mod}"
    )


_CMS_ORACLE = f"""
WITH cells AS (
  SELECT j, {_h_sql('{{j}}', 'user_id', _CMS_WIDTH).replace("'{{j}}'", "j::VARCHAR")}
         AS bucket, count(*) AS c
  FROM events, range(0, {_CMS_DEPTH}) t(j)
  GROUP BY j, bucket
),
exact AS (
  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, exact_cnt,
         row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rk
  FROM exact QUALIFY rk <= 10
),
probe AS (
  SELECT user_id, exact_cnt, rk, j,
         {_h_sql('{{j}}', 'user_id', _CMS_WIDTH).replace("'{{j}}'", "j::VARCHAR")}
         AS bucket
  FROM top, range(0, {_CMS_DEPTH}) t(j)
),
est AS (
  SELECT p.user_id, p.exact_cnt, p.rk, min(c.c) AS cms_est
  FROM probe p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY p.user_id, p.exact_cnt, p.rk
)
SELECT user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overestimate,
       CAST(rk AS BIGINT) AS rk
FROM est
"""


@query("sketch_cms_heavyhitters", oracle=_CMS_ORACLE)
def sketch_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch ({d}x{w}) over ``events.user_id``, probed at the
    10 exact heavy hitters: emits exact count, sketch estimate, and the
    overestimation error per key.

    Build is ONE pass over events: each row explodes into {d} (row,
    bucket) cells and a single hash-aggregate produces the {d}x{w}
    grid.  Map-side combine means each partition builds its own local
    grid and the exchange moves at most ``{d}*{w} * n_partitions``
    rows — the sketch-merge property, which is also what makes the
    grid maintainable under Structured Streaming or across corpus
    shards (cell-wise SUM is the merge).  CMS guarantees
    ``estimate >= exact`` (the ``overestimate`` column is provably
    non-negative) and the estimate is deterministic given the hash
    family, so both engines agree bit-for-bit.  The exact top-10 used
    as probes keeps the driver comparison meaningful: heavy hitters
    are where CMS error is relatively smallest.""".format(
        d=_CMS_DEPTH, w=_CMS_WIDTH
    )
    ev = load_tables(spark, sf_dir)["events"]
    cells = SK.cms_build(ev, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
            ),
        )
        .filter(F.col("rk") <= 10)
    )
    est = SK.cms_estimate(cells, top, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        "user_id",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overestimate"),
        F.col("rk").cast("long").alias("rk"),
    )


_BLOOM_M = 16384
_BLOOM_K = 3


_BLOOM_ORACLE = f"""
WITH bits AS (
  SELECT DISTINCT {_h_sql('{{j}}', 'c_custkey', _BLOOM_M).replace("'{{j}}'", "j::VARCHAR")} AS pos
  FROM customer, range(0, {_BLOOM_K}) t(j)
),
mx AS (SELECT max(c_custkey) AS mx FROM customer),
probes AS (
  SELECT (i * 97)::BIGINT AS probe_key FROM range(1, 31) t(i)
  UNION ALL
  SELECT mx + i * 1000003 FROM mx, range(1, 11) t(i)
),
pp AS (
  SELECT probe_key, j,
         {_h_sql('{{j}}', 'probe_key', _BLOOM_M).replace("'{{j}}'", "j::VARCHAR")} AS pos
  FROM probes, range(0, {_BLOOM_K}) t(j)
),
hits AS (
  SELECT probe_key, count(b.pos) AS nhit
  FROM pp LEFT JOIN bits b USING (pos) GROUP BY probe_key
),
truth AS (
  SELECT h.probe_key, h.nhit = {_BLOOM_K} AS in_bloom,
         EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = h.probe_key)
           AS actual
  FROM hits h
)
SELECT probe_key, in_bloom, actual,
       CASE WHEN in_bloom AND actual THEN 'tp'
            WHEN in_bloom AND NOT actual THEN 'fp'
            WHEN NOT in_bloom AND NOT actual THEN 'tn'
            ELSE 'fn' END AS verdict
FROM truth
"""


@query("sketch_bloom_membership", oracle=_BLOOM_ORACLE)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom filter (m = {m} bits, k = {k} hashes) built over
    the ``customer.c_custkey`` set, probed with 40 arithmetic keys (30
    low multiples of 97 — mostly present — and 10 at ``max(key) +
    1000003·i`` — all absent, and provably disjoint from the first set
    at every scale factor since the offset stride exceeds the low
    probes' entire range, so the 40 probe keys are always distinct).
    Emits the filter verdict against ground truth.

    The built filter is the DISTINCT set of set bit positions — at
    most m rows, broadcastable, and mergeable across shards by plain
    UNION (bitwise-OR is set union of positions).  Membership =
    "all k probe positions are set", computed as a left join + count.
    A ``verdict = 'fn'`` row is impossible by construction (every
    inserted key set all its positions), so the query doubles as a
    self-check; false positives are real and deterministic — both
    engines reproduce the same ones because the hash family is md5.
    At 100 TB the build side is one distinct-aggregate over the key
    column and the probe side is map-only against the broadcast bit
    set — the same plan Spark's runtime
    ``spark.sql.optimizer.runtime.bloomFilter`` injects for join
    pruning (tests/test_runtime_filters.py), here surfaced as a
    user-level operator.""".format(m=_BLOOM_M, k=_BLOOM_K)
    cust = load_tables(spark, sf_dir)["customer"]
    bits = SK.bloom_build(cust, "c_custkey", _BLOOM_M, _BLOOM_K)
    mx = cust.agg(F.max("c_custkey").alias("mx"))
    lo = spark.range(1, 31).select((F.col("id") * 97).cast("long").alias("probe_key"))
    hi = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(mx))
        .select((F.col("mx") + F.col("id") * 1000003).cast("long").alias("probe_key"))
    )
    probes = lo.unionByName(hi)
    membership = SK.bloom_probe(bits, probes, "probe_key", _BLOOM_M, _BLOOM_K)
    actual = cust.select(
        F.col("c_custkey").alias("probe_key"), F.lit(True).alias("actual")
    ).distinct()
    truth = (
        membership.join(F.broadcast(actual), "probe_key", "left")
        .select(
            "probe_key",
            "in_bloom",
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
        )
    )
    verdict = (
        F.when(F.col("in_bloom") & F.col("actual"), "tp")
        .when(F.col("in_bloom") & ~F.col("actual"), "fp")
        .when(~F.col("in_bloom") & ~F.col("actual"), "tn")
        .otherwise("fn")
    )
    return truth.withColumn("verdict", verdict)


#: Shared CTE prefix: the above-average-weight undirected nation trade
#: graph (also the PageRank edge family, queries/profiling.py).
#: The same-nation filter runs AFTER the group-by (u != v ⟺ the
#: original c_nationkey != s_nationkey, since least != greatest):
#: placed in the join's WHERE, DuckDB's optimizer may reorder the
#: cross-table inequality into a customer×supplier near-cross-product
#: (~144M rows at 10×, 78 GB of spill before dying — caught r13 when
#: _TRI_ORACLE, the only unmaterialized consumer, hit it at .tmp/sf1;
#: the kcore consumer's MATERIALIZED hints had masked it).  Grouping
#: first adds only the ≤|nations| diagonal groups, dropped before the
#: avg(w) cut, so the result set is bit-identical.
_TRADE_SQL = """pairs AS (
  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         greatest(c.c_nationkey, s.s_nationkey) AS v,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY u, v
),
trade AS (SELECT u, v, w FROM pairs WHERE u != v),
cut AS (SELECT avg(w) AS thr FROM trade),
e AS (SELECT u, v FROM trade, cut WHERE w > thr)"""


def _trade_edges(t) -> DataFrame:
    """Above-average-weight undirected nation trade edges (u < v).

    The |nations|²-bounded aggregate is persisted: its lineage is the
    whole fact-table join chain, and the edge set feeds several
    consumers in every graph query (threshold, degree builds,
    orientation / peeling rounds) — uncached, each consumer re-runs
    the chain.  Both graph queries build the IDENTICAL plan, so the
    cache is also shared across them within a session."""
    trade = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    thr = trade.agg(F.avg("w").alias("thr"))
    return (
        trade.crossJoin(F.broadcast(thr))
        .filter(F.col("w") > F.col("thr"))
        .select("u", "v")
    )


#: same post-group same-nation filter as _TRADE_SQL (see the note
#: there): this oracle is the one that DIED at .tmp/sf1 when DuckDB
#: reordered the in-join inequality into a customer×supplier
#: near-cross-product.  The fact-join CTEs are MATERIALIZED (the same
#: hint _KCORE_ORACLE has always used): DuckDB inlines unmaterialized
#: CTEs per REFERENCE, and ``e`` is referenced five times downstream —
#: each re-running the 6M-row 4-way join (measured 294 s vs ~1 s at
#: .tmp/sf1).  Hints only; result set unchanged.
_TRI_ORACLE = """
WITH pairs AS MATERIALIZED (
  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         greatest(c.c_nationkey, s.s_nationkey) AS v,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY u, v
),
trade AS MATERIALIZED (SELECT u, v, w FROM pairs WHERE u != v),
cut AS (SELECT avg(w) AS thr FROM trade),
e AS MATERIALIZED (SELECT u, v FROM trade, cut WHERE w > thr),
deg AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
),
o AS MATERIALIZED (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM o e1 JOIN o e2 ON e2.a = e1.b
  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT n.n_name AS nation, CAST(p.n_triangles AS BIGINT) AS n_triangles
FROM per_node p JOIN nation n ON n.n_nationkey = p.node
"""


@query("graph_triangle_count", oracle=_TRI_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle counts over the above-average-weight
    undirected nation trade graph — the clustering-structure metric
    (and the third graph algorithm after connected components and
    PageRank).

    Scale shape: the fact tables collapse to a |nations|²-bounded edge
    aggregate FIRST (one shuffle over lineitem, same as q7/PageRank);
    everything after runs on the edge table.  Triangles use DEGREE
    ORDERING — each undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, wedges are built by
    joining oriented edges head-to-tail, and a third join closes them.
    Orientation caps every node's out-degree at O(sqrt(|E|))
    (arboricity bound), which is what stops hub nodes from exploding
    the wedge join on power-law graphs — the standard trick from the
    MapReduce triangle literature (Suri & Vassilvitskii, WWW'11).
    Each triangle is produced exactly once (its orientation-sorted
    vertex order), so the per-node count is a plain corner explode."""
    t = load_tables(spark, sf_dir)
    e = _trade_edges(t)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # orient low-(degree, id) -> high-(degree, id); struct comparison
    # mirrors the oracle's tuple comparison
    lower = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .persist()  # read three times by the wedge/closure joins
    )
    e1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = o.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        per_node.join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            per_node["node"] == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), F.col("n_triangles").cast("long"))
    )


_KMV_K = 64
_KMV_SCALE = 1 << 56  # hashes are 14 hex chars = 56 bits

_KMV_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 14))::BIGINT AS h
  FROM events
),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM d
),
tk AS (SELECT * FROM rk WHERE rk <= {_KMV_K}),
per AS (SELECT event_type, count(*) AS nk, max(h) AS hk FROM tk GROUP BY event_type),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
),
typed AS (
  SELECT e.event_type, e.exact_distinct,
         CASE WHEN p.nk < {_KMV_K} THEN p.nk::DOUBLE
              ELSE round({_KMV_K - 1}.0 * {_KMV_SCALE} / p.hk, 2) END AS kmv_est
  FROM ex e JOIN per p USING (event_type)
),
mh AS (SELECT DISTINCT h FROM tk),
mrk AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM mh),
mtk AS (SELECT count(*) AS nk, max(h) AS hk FROM mrk WHERE rk <= {_KMV_K}),
mex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events),
merged AS (
  SELECT 'ALL' AS event_type, mex.exact_distinct,
         CASE WHEN mtk.nk < {_KMV_K} THEN mtk.nk::DOUBLE
              ELSE round({_KMV_K - 1}.0 * {_KMV_SCALE} / mtk.hk, 2) END AS kmv_est
  FROM mex, mtk
)
SELECT event_type, CAST(exact_distinct AS BIGINT) AS exact_distinct, kmv_est,
       round(100.0 * abs(kmv_est - exact_distinct) / exact_distinct, 2) AS err_pct
FROM (SELECT * FROM typed UNION ALL SELECT * FROM merged)
"""


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-minimum-values distinct-user sketch per event type (k = {k}),
    plus an 'ALL' row whose estimate comes from MERGING the per-type
    sketches — demonstrating the property that makes KMV the
    distributed distinct sketch: the k smallest hashes of a union are
    each among their own part's k smallest, so sketch union is
    lossless (merged == the sketch built directly on the union; the
    equality is pinned in tests/test_sketches.py).

    Estimate = (k−1)/u_k where u_k is the k-th smallest distinct hash
    normalized to [0, 1); parts with fewer than k distinct hashes are
    exact by definition.  Deterministic under the md5 hash family, so
    — unlike HyperLogLog, whose registers are implementation-specific
    — both engines reproduce the estimate AND its error bit-for-bit,
    which is what lets an approximation algorithm pass a value-hash
    oracle.  Scale shape: one distinct-aggregate over (type, hash)
    sized by CARDINALITY (not rows, thanks to map-side partial
    distinct), then a per-type top-k window over distinct hashes; the
    sketch itself is k longs per group — the state a streaming or
    shard-merge pipeline would carry.""".format(k=_KMV_K)
    ev = load_tables(spark, sf_dir)["events"]
    tk = SK.kmv_minima(ev, "user_id", _KMV_K, ("event_type",))
    per = SK.kmv_summary(tk, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    typed = exact.join(per, "event_type").select(
        "event_type",
        "exact_distinct",
        SK.kmv_estimate(F.col("nk"), F.col("hk"), _KMV_K).alias("kmv_est"),
    )
    # merge: union of the per-type k-min sets, re-take the k smallest
    mtk = SK.kmv_summary(SK.kmv_merge(tk, _KMV_K))
    mex = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    merged = mex.crossJoin(F.broadcast(mtk)).select(
        F.lit("ALL").alias("event_type"),
        "exact_distinct",
        SK.kmv_estimate(F.col("nk"), F.col("hk"), _KMV_K).alias("kmv_est"),
    )
    out = typed.unionByName(merged)
    return out.select(
        "event_type",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        "kmv_est",
        F.round(
            100.0
            * F.abs(F.col("kmv_est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            2,
        ).alias("err_pct"),
    )


_KCORE_K = 6

_KCORE_ORACLE = f"""
WITH {_TRADE_SQL.replace("trade AS (", "trade AS MATERIALIZED (").replace("e AS (", "e AS MATERIALIZED (")},
n0 AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
),
p1 AS MATERIALIZED (SELECT node FROM n0 WHERE d < {_KCORE_K}),
s1 AS MATERIALIZED (
  SELECT node FROM n0 WHERE node NOT IN (SELECT node FROM p1)
),
e1 AS MATERIALIZED (
  SELECT u, v FROM e
  WHERE u IN (SELECT node FROM s1) AND v IN (SELECT node FROM s1)
),
d2 AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e1 UNION ALL SELECT v AS node FROM e1
  ) GROUP BY node
),
p2 AS MATERIALIZED (
  SELECT s1.node FROM s1 LEFT JOIN d2 ON d2.node = s1.node
  WHERE coalesce(d2.d, 0) < {_KCORE_K}
),
s2 AS MATERIALIZED (
  SELECT node FROM s1 WHERE node NOT IN (SELECT node FROM p2)
),
e2 AS MATERIALIZED (
  SELECT u, v FROM e1
  WHERE u IN (SELECT node FROM s2) AND v IN (SELECT node FROM s2)
),
d3 AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e2 UNION ALL SELECT v AS node FROM e2
  ) GROUP BY node
),
p3 AS MATERIALIZED (
  SELECT s2.node FROM s2 LEFT JOIN d3 ON d3.node = s2.node
  WHERE coalesce(d3.d, 0) < {_KCORE_K}
),
s3 AS MATERIALIZED (
  SELECT node FROM s2 WHERE node NOT IN (SELECT node FROM p3)
),
e3 AS MATERIALIZED (
  SELECT u, v FROM e2
  WHERE u IN (SELECT node FROM s3) AND v IN (SELECT node FROM s3)
),
df AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e3 UNION ALL SELECT v AS node FROM e3
  ) GROUP BY node
)
SELECT n.n_name AS nation,
       CAST(CASE WHEN n0.node IN (SELECT node FROM p1) THEN 1
                 WHEN n0.node IN (SELECT node FROM p2) THEN 2
                 WHEN n0.node IN (SELECT node FROM p3) THEN 3
                 ELSE 0 END AS INT) AS removed_round,
       CAST(CASE WHEN n0.node IN (SELECT node FROM s3)
                 THEN coalesce((SELECT d FROM df WHERE df.node = n0.node), 0)
                 ELSE 0 END AS BIGINT) AS core_deg
FROM n0 JOIN nation n ON n.n_nationkey = n0.node
"""


@query("graph_kcore_peel", oracle=_KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k = {k}, 3 unrolled
    rounds) over the trade graph — the 5th graph algorithm (after
    connected components, PageRank, label propagation, triangles), and
    the standard coreness/degeneracy primitive for separating a
    graph's dense backbone from its fringe.

    Each round removes every surviving node whose CURRENT degree is
    below k, then recomputes degrees on the induced subgraph — exactly
    the distributed k-core of Montresor et al.: one degree aggregate
    plus two anti-joins per round, all keyed on the edge/vertex sets
    (never the fact tables, which collapse to the |nations|²-bounded
    edge aggregate once — shared, persisted, cache-aligned with
    graph_triangle_count via ``_trade_edges``).  Emits each node's
    removal round (0 = survived all rounds) and its degree inside the
    final surviving subgraph.  Three rounds are unrolled for exact
    oracle replay; the surviving set is a SUPERSET of the true k-core
    (peeling only ever shrinks it), and a production
    run-to-convergence iterates the same round body with the
    localCheckpoint/convergence-hash pattern of operators/graph.py's
    connected components.""".format(k=_KCORE_K)
    from fletcher_spark.operators.graph import kcore_peel

    t = load_tables(spark, sf_dir)
    out = kcore_peel(_trade_edges(t), _KCORE_K, 3)
    return out.join(
        F.broadcast(t["nation"].select("n_nationkey", "n_name")),
        out["node"] == F.col("n_nationkey"),
    ).select(F.col("n_name").alias("nation"), "removed_round", "core_deg")


@query(
    "sketch_quantile_bound",
    oracle="""
WITH v AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL),
h AS (SELECT x, count(*) AS c FROM v GROUP BY x),
cum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cw FROM h),
nn AS (SELECT count(*) AS n FROM v),
ex AS (
  SELECT p, min(x) AS exact_disc
  FROM cum CROSS JOIN nn CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75]) AS p) t
  WHERE cw >= ceil(p * n) GROUP BY p)
SELECT round(p, 2) AS p, round(exact_disc, 2) AS exact_disc, true AS within_bound
FROM ex
""",
)
def sketch_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-SKETCH contract check — the pattern for driver-checking
    an op whose output is engine-specific: Spark's
    ``approx_percentile`` (Greenwald-Khanna, accuracy=100 → rank error
    ε = 1 %) can never be value-matched by another engine, but its
    GUARANTEE can.  The query computes the sketch estimate AND verifies
    distributed-exactly that the estimate's value-rank interval
    [count(<est)+1, count(≤est)] overlaps the allowed rank window
    [(p−ε)n − s, (p+ε)n + s] (slack s = 2 absorbs the ±1 rank-interval
    convention); the oracle pins ``within_bound`` to literal TRUE — a
    sketch violating its own error bound turns the row red.  Exact disc
    quantiles ride along as the value anchor both engines agree on.

    Scale: the sketch is one fixed-memory mergeable aggregate; the
    rank check is one more hash aggregate over the same scan."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_extendedprice").isNotNull()
    )
    probs = [0.25, 0.5, 0.75]
    eps = 1.0 / 100
    # two scans of lineitem TOTAL: the sketch aggregate, and the value
    # histogram — rank checks AND exact cuts both derive from the
    # persisted histogram, never a third pass over the fact table.
    # An observe()-based fusion of the sketch into the histogram scan
    # (ONE pass) was tried and REVERTED (r14): the CollectMetrics node
    # carries a per-construction observation name, which makes the
    # histogram's analyzed plan UNIQUE per run — breaking analyzed-
    # plan-equality cache reuse both across bench runs and with
    # histogram_equidepth_cuts' identical histogram (in-sweep: this
    # query 1.60 → 2.29 s AND equidepth 1.26 → 1.55 s), costing far
    # more than the saved scan.  Cache lifetime: the exact-cuts branch
    # consumes the histogram eagerly at construction and the rank-check
    # branch at execution; after that the entry ages out under the
    # documented MEMORY_AND_DISK LRU contract (a query can't unpersist
    # what its returned plan still references).
    hist = (
        li.groupBy(F.col("l_extendedprice").cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    sk = li.agg(
        F.percentile_approx("l_extendedprice", probs, 100).alias("est"),
        F.count(F.lit(1)).alias("n"),
    )

    # exact disc quantiles (min v with cum >= ceil(p*n)) from the SAME
    # histogram — the cross-engine value anchor
    from fletcher_spark.operators.agg import exact_cut_points

    quarts = exact_cut_points(None, "", 4, prehist=hist)  # cuts = [p25, p50, p75]

    # rank-check aggregates + the bound stack as parsed SQL (r14, guide
    # §7.3): the per-prob when/struct Column loops cost ~2,200 py4j
    # round-trips per construction; trees identical (CASE WHEN …
    # ELSE 0L is the F.when(...).otherwise(lit(0)) node, the p±eps
    # factors are the SAME Python-computed doubles rendered via repr)
    x = hist.crossJoin(F.broadcast(sk))
    chk = x.agg(
        *[
            F.expr(f"sum(CASE WHEN v {op} est[{i}] THEN c ELSE 0L END)").alias(
                f"{nm}{i}"
            )
            for i in range(len(probs))
            for nm, op in (("lo", "<"), ("hi", "<="))
        ],
        F.max("n").alias("n"),
    )
    bound_stack = ",".join(
        "named_struct('p', round({p!r}D, 2), 'within_bound', "
        "(lo{i} + 1 <= {pe!r}D * n + 2) AND (hi{i} >= {me!r}D * n - 2))".format(
            p=float(p), i=i, pe=float(p + eps), me=float(p - eps)
        )
        for i, p in enumerate(probs)
    )
    checks = chk.selectExpr(f"explode(array({bound_stack})) AS z").select(
        "z.p", "z.within_bound"
    )
    ex = quarts.select(
        F.explode(
            F.arrays_zip(
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)).alias("p"),
                F.col("cuts").alias("v"),
            )
        ).alias("z")
    ).select(
        F.round(F.col("z.p"), 2).alias("p"),
        F.round(F.col("z.v"), 2).alias("exact_disc"),
    )
    return ex.join(checks, "p").select("p", "exact_disc", "within_bound")
