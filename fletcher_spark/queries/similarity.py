"""Similarity-search queries over ``embeddings`` (LLM-pipeline
extensions): brute-force cosine top-k baseline, sign-LSH bucketed ANN,
and a label-list IVF probe — all with full DuckDB oracles (vector math
is double-cast left-folds, bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.operators import kmeans as KM
from fletcher_spark.pipeline import similarity as SIM
from fletcher_spark.queries.registry import BENCH_EXCLUDE, query

_DIM = 64
#: 4 LSH tables; each table carries a FULL 16-plane signature whose key
#: is truncated at query time to a bit-width chosen from the corpus
#: count (see _BITS_CASE below).  Plane layout keeps the r1-r9 keys
#: stable: table t's first 4 planes are the original planes[4t..4t+3],
#: its 12 extension planes come after index 16 — so at the minimum
#: 4-bit width (any corpus ≤ 2048 vectors, incl. every driver scale)
#: the bucket keys are bit-identical to the pre-r10 fixed-width scheme.
_N_TABLES = 4
_BASE_BITS = 4
_MAX_BITS = 16
_PLANES_PER_TABLE = _MAX_BITS
_RAW_PLANES = SIM.hyperplane_signs(_N_TABLES * _MAX_BITS, _DIM)
_PLANES = [
    row
    for t in range(_N_TABLES)
    for row in (
        _RAW_PLANES[t * _BASE_BITS : (t + 1) * _BASE_BITS]
        + _RAW_PLANES[
            _N_TABLES * _BASE_BITS
            + t * (_MAX_BITS - _BASE_BITS) : _N_TABLES * _BASE_BITS
            + (t + 1) * (_MAX_BITS - _BASE_BITS)
        ]
    )
]

#: Bucket-width ladder: the smallest b in [4, 16] with count ≤ 128·2^b
#: (≈128 vectors per bucket per table).  Fixed-width keys made the
#: candidate join quadratic in corpus size — at 100× data (200k
#: vectors) 16 buckets/table yielded ~200M candidate pairs and >78 GB
#: of SMJ spill (r10 scale probe); width that grows with log(N) keeps
#: per-query candidates ≈ tables × 128 regardless of corpus size.
#: The QUERY target (128) tolerates bigger buckets than the self-join
#: dedup target (queries/dedup.py uses 16): probe cost is |bucket| per
#: query row, not |bucket|² per bucket.
_BUCKET_TARGET = 128


def _bits_case(n_expr: str) -> str:
    return SIM.bits_case_sql(n_expr, _BUCKET_TARGET, _BASE_BITS, _MAX_BITS)

# -- DuckDB fragments ------------------------------------------------------

_DOT = "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"


def _duck_cos(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _duck_plane(row: list[int]) -> str:
    return "([" + ", ".join(f"{float(w)}" for w in row) + "]::DOUBLE[])"


def _duck_table_key(
    vexpr: str,
    t: int,
    planes: list[list[int]] | None = None,
    planes_per_table: int | None = None,
) -> str:
    planes = _PLANES if planes is None else planes
    ppt = _PLANES_PER_TABLE if planes_per_table is None else planes_per_table
    rows = planes[t * ppt : (t + 1) * ppt]
    cases = [
        f"CASE WHEN {_DOT.format(a=vexpr, b=_duck_plane(row))} >= 0 THEN '1' ELSE '0' END"
        for row in rows
    ]
    return " || ".join(cases)


_BRUTE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
v AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS nv
  FROM embeddings
),
s AS (
  SELECT query_id, neighbor_id, {_duck_cos("qv", "nv")} AS cos
  FROM q, v WHERE neighbor_id != query_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rk FROM r WHERE rk <= 5
"""


@query("ann_cosine_topk", oracle=_BRUTE_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5: broadcast nested-loop over the sharded
    vector table (pipeline/similarity.py:brute_force_topk).  THE exact
    baseline every ANN variant is measured against; O(|Q|·N) dot
    products, each a single codegen ``aggregate``/``zip_with`` — no
    Python, no explode."""
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    queries = e.filter(F.col("vec_id") % 50 == 0)
    out = SIM.brute_force_topk(e, queries, 5)
    return out.withColumn("rk", F.col("rk").cast("long"))


# O(|Q|·N) correctness baseline, not a scale path — keep it out of the
# headline bench loop (it still gets a driver CORRECTNESS row).
BENCH_EXCLUDE.add("ann_cosine_topk")


_LSH_ORACLE = f"""
WITH bits AS (
  SELECT {_bits_case("count(*)")} AS k FROM embeddings
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
  FROM embeddings
),
b AS (
  SELECT vec_id, ev,
         {", ".join(f"left({_duck_table_key('ev', t)}, (SELECT k FROM bits)) AS t{t}" for t in range(_N_TABLES))}
  FROM v
),
bx AS (
  {" UNION ALL ".join(f"SELECT vec_id, {t} AS band, t{t} AS key, ev FROM b" for t in range(_N_TABLES))}
),
q AS (SELECT vec_id AS query_id, band, key, ev AS qv FROM bx WHERE vec_id % 50 = 0),
cand AS (
  SELECT DISTINCT q.query_id, bx.vec_id AS neighbor_id
  FROM q JOIN bx ON q.band = bx.band AND q.key = bx.key AND bx.vec_id != q.query_id
),
s AS (
  SELECT c.query_id, c.neighbor_id, {_duck_cos("qv.ev", "nv.ev")} AS cos
  FROM cand c JOIN v qv ON qv.vec_id = c.query_id JOIN v nv ON nv.vec_id = c.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rk FROM r WHERE rk <= 3
"""


@query("ann_lsh_bucketed", oracle=_LSH_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN: 4 tables × 16 deterministic ±1
    hyperplanes, bucket key truncated to a corpus-size-derived width
    (_bits_case: smallest b in [4,16] with N ≤ 128·2^b); a vector pair
    is a candidate iff it shares a truncated key in ANY table; exact
    cosine + top-3 on candidates only.

    Scale: explode is ×4 (one row per table), the candidate join is
    keyed on (table, key) — shuffle O(4N).  The key width is the part
    that survives 100×: buckets multiply with the corpus, so per-query
    candidates stay ≈ tables × 128 instead of tables × N/16 (the r10
    sf10 probe measured the fixed-width form at ~200M candidate pairs /
    >78 GB of spill on 200k vectors; adaptive width holds the same
    sf0.01/sf0.1 keys bit-identical while capping bucket occupancy).
    The query/vector sides carry no broadcast hints — the query set is
    fact-proportional (vec_id % 50), so AQE's size-based choice decides,
    exactly like the r9 ewma range-table unhinting.  Recall-vs-exact is
    asserted in tests/test_pipeline.py (recall levers: more tables, or
    a larger _BUCKET_TARGET).
    """
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    n = e.agg(F.count(F.lit(1)).alias("__n"))
    # persist the signature table: it feeds FOUR consumers (explode,
    # query filter, both sides of the scored join) — uncached, each one
    # re-ran the L×k plane products, and the explode's inferred
    # size(tkeys)>0 predicate pushed the whole transform into the scan
    # filter (the cache is both the recompute fix and the pushdown
    # barrier; plan audit in tests/test_plans.py)
    b = (
        e.select(
            "vec_id",
            F.col("embedding").alias("ev"),
            SIM.expr_cached(
                SIM.lsh_table_keys_sql("`embedding`", _PLANES, _PLANES_PER_TABLE)
            ).alias("tkeys"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn("__bits", F.expr(_bits_case("__n")))
        .persist()
    )
    # materialize before the main action: AQE launches the four
    # consumers' independent sub-stages concurrently, and branches
    # racing an in-flight cache each recompute the L x k plane products
    # (r13; same fix as dedup_substring_exact's docs.count())
    b.count()
    # the tail as parsed selectExpr batches (r14, guide §7.3 driver-side
    # work): the Column/HOF form cost ~600 py4j round-trips of the
    # ~1.9 s sf0.1 wall — the l2_norm/dot lambdas alone ~0.25 s per
    # construction; trees identical (the *_sql builders are the pinned
    # twins from tests/test_vector_sql_twins.py)
    ex = b.selectExpr("vec_id", "ev", "explode(tkeys) AS bk", "__bits").selectExpr(
        "vec_id", "ev", "bk.band AS band", "substr(bk.key, 1, __bits) AS key"
    )
    q = ex.filter("vec_id % 50 = 0").selectExpr(
        "vec_id AS query_id", "ev AS qv", "band", "key"
    )
    cand = (
        ex.join(q, ["band", "key"])
        .filter("vec_id != query_id")
        .selectExpr("query_id", "vec_id AS neighbor_id")
        .distinct()
    )
    vq = b.selectExpr(
        "vec_id AS query_id",
        "ev AS qv",
        f"{SIM.l2_norm_sql('`ev`')} AS qn",
    )
    vn = b.selectExpr(
        "vec_id AS neighbor_id",
        "ev AS nv",
        f"{SIM.l2_norm_sql('`ev`')} AS nn",
    )
    return (
        cand.join(vq, "query_id")
        .join(vn, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"({SIM.dot_sql('`qv`', '`nv`')}) / (qn * nn) AS cos",
        )
        .selectExpr(
            "query_id",
            "neighbor_id",
            "round(cos, 6) AS cos",
            "CAST(row_number() OVER (PARTITION BY query_id"
            " ORDER BY cos DESC, neighbor_id) AS LONG) AS rk",
        )
        .filter("rk <= 3")
    )


#: IVF list sub-sharding: labels are the lists (nlist = label
#: cardinality, fixed at 10 in the synthetic data), so a fixed-nlist
#: probe scans n_probe/nlist = 20 % of the corpus PER QUERY — with
#: |Q| ∝ N that is quadratic, and the r10 100× probe measured it at
#: 93.7 s / 108.6× (the one legitimately-super-linear survivor of the
#: first sweep).  Production IVF scales nlist ~ √N; with labels fixed,
#: the equivalent lever is sharding each list by a sign-LSH sub-key of
#: adaptive width (0 bits until 2500 vectors — every driver scale,
#: keys and results bit-identical to the unsharded form — then the
#: smallest width in [0, 8] holding expected (label, sub) occupancy
#: ≤ 250).  A query probes its own sub-shard of each candidate list;
#: the production recall lever is multi-probe (flipping low-confidence
#: signature bits), exactly as in FAISS-style IVF sharding.
_IVF_SUB_PLANES = SIM.hyperplane_signs(8, _DIM, seed="ivf")
_IVF_SUB_TARGET = 2500


def _ivf_bits_case(n_expr: str) -> str:
    return SIM.bits_case_sql(n_expr, _IVF_SUB_TARGET, 0, len(_IVF_SUB_PLANES))


_IVF_ORACLE = f"""
WITH bits AS (
  SELECT {_ivf_bits_case("count(*)")} AS k FROM embeddings
),
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS ev,
         left({_duck_table_key("list_transform(embedding, x -> x::DOUBLE)", 0, _IVF_SUB_PLANES, len(_IVF_SUB_PLANES))},
              (SELECT k FROM bits)) AS sub
  FROM embeddings
),
cdim AS (
  SELECT label, i, avg(ev[i]) AS cv
  FROM v, range(1, 65) t(i)
  GROUP BY label, i
),
cent AS (SELECT label, list(cv ORDER BY i) AS cv FROM cdim GROUP BY label),
q AS (SELECT vec_id AS query_id, ev AS qv, sub FROM v WHERE vec_id % 50 = 0),
qc AS (
  SELECT query_id, qv, sub, label, {_duck_cos("qv", "cv")} AS ccos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_duck_cos("qv", "cv")} DESC, label) AS crk
  FROM q, cent
),
probe AS (SELECT query_id, qv, sub, label FROM qc WHERE crk <= 2),
s AS (
  SELECT p.query_id, v.vec_id AS neighbor_id, {_duck_cos("p.qv", "v.ev")} AS cos
  FROM probe p JOIN v ON v.label = p.label AND v.sub = p.sub
                     AND v.vec_id != p.query_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rk FROM r WHERE rk <= 3
"""


@query("ann_ivf_probe", oracle=_IVF_ORACLE)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-``label`` centroids (the
    dataset's cluster structure stands in for k-means lists), probe the
    2 nearest lists per query, exact cosine within the query's
    adaptive-width sign-LSH SUB-SHARD of each probed list only
    (_IVF_SUB_PLANES / _ivf_bits_case: 0 bits — unsharded, results
    bit-identical to the r4-r9 form — until 2500 vectors, then the
    smallest width in [0, 8] holding (label, sub) occupancy ≤ 250).

    Scale: centroids are a tiny aggregate (lists × dim) broadcast to
    every executor; the candidate join is keyed on (list id, sub-key).
    A fixed-nlist probe scans n_probe/nlist of the corpus per query —
    quadratic once |Q| ∝ N (measured 108.6× at 100× data, r10 probe);
    the sub-shard ladder is the nlist ~ √N lever expressed on fixed
    label lists, holding per-query scanned rows ~constant.  Centroid
    averaging uses posexplode + (label, pos) grouping — a
    map-side-combined aggregate, never a per-vector Python loop.
    """
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    n = e.agg(F.count(F.lit(1)).alias("__n"))
    # persisted: v feeds the centroid aggregate, the query set, and the
    # scored join probe — and caching keeps the posexplode's inferred
    # size(ev)>0 filter off the scan (see ann_lsh_bucketed)
    ev = F.expr(SIM.d_sql("`embedding`"))
    v = (
        e.select(
            "vec_id",
            "label",
            ev.alias("ev"),
            SIM.expr_cached(
                SIM.lsh_bucket_sql(SIM.d_sql("`embedding`"), _IVF_SUB_PLANES)
            ).alias("__sig"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            "label",
            "ev",
            F.expr(f"substr(__sig, 1, {_ivf_bits_case('__n')})").alias("sub"),
        )
        .persist()
    )

    # centroids: explode to (label, pos, val); partial+final avg; re-pack.
    # COLLECTED at construction (r14, guide §1.2): the centroid table is
    # nlist×dim MODEL state (the same bounded-aggregate contract as the
    # kmeans trainer and the cut-point stats), and this one collect job
    # both materializes v's cache — replacing the r13 v.count(), whose
    # only purpose was beating the consumer-stage cache race — and
    # removes the centroid subtree + its broadcast exchange from the
    # returned plan.  The remaining cache consumers (query scan, vn
    # scan) start from a materialized cache, so the race is gone by
    # construction.
    cdim = (
        v.select("label", F.posexplode("ev").alias("i", "val"))
        .groupBy("label", "i")
        .agg(F.avg("val").alias("cv"))
    )
    cent_rows = (
        cdim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cv"))), lambda s: s["cv"]
            ).alias("cv")
        )
        .collect()
    )
    # (label, cv) re-entered as ONE parsed literal — float.__repr__
    # round-trips doubles exactly, bare ints match the int32 label
    cent_lit = "array({})".format(
        ",".join(
            "named_struct('label', {}, 'cv', array({}))".format(
                int(r["label"]), ",".join(f"{float(x)!r}D" for x in r["cv"])
            )
            for r in sorted(cent_rows, key=lambda r: r["label"])
        )
    )

    # probe pick + scoring tail as parsed selectExpr batches (r14,
    # guide §7.3; same trees — windows ride the OVER clause)
    q = v.filter("vec_id % 50 = 0").selectExpr(
        "vec_id AS query_id", "ev AS qv", "sub"
    )
    probe = (
        q.selectExpr("query_id", "qv", "sub", f"explode({cent_lit}) AS c")
        .selectExpr(
            "query_id",
            "qv",
            "sub",
            "c.label AS label",
            "row_number() OVER (PARTITION BY query_id ORDER BY"
            f" ({SIM.cosine_sql('`qv`', 'c.cv')}) DESC, c.label) AS crk",
        )
        .filter("crk <= 2")
        .selectExpr("query_id", "qv", "sub", "label")
    )

    vn = v.selectExpr(
        "vec_id", "label", "ev", "sub", f"{SIM.l2_norm_sql('`ev`')} AS nn"
    )
    # no broadcast hint: the probe side is fact-proportional (|Q| ∝ N);
    # AQE's size-based choice decides
    probe_n = probe.selectExpr(
        "query_id", "qv", "sub", "label", f"{SIM.l2_norm_sql('`qv`')} AS qn"
    )
    return (
        vn.join(probe_n, ["label", "sub"])
        .filter("vec_id != query_id")
        .selectExpr(
            "query_id",
            "vec_id",
            f"({SIM.dot_sql('`qv`', '`ev`')}) / (qn * nn) AS cos",
        )
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "round(cos, 6) AS cos",
            "CAST(row_number() OVER (PARTITION BY query_id"
            " ORDER BY cos DESC, vec_id) AS LONG) AS rk",
        )
        .filter("rk <= 3")
    )


@query(
    "embed_quantize_int8",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev FROM embeddings
),
s AS (
  SELECT vec_id, ev, list_max(list_transform(ev, x -> abs(x))) AS maxabs FROM v
)
SELECT vec_id,
       round(maxabs, 6) AS scale,
       array_to_string(
         list_transform(ev, x -> CAST(round(127.0 * x / maxabs) AS INT)), ',') AS qvec
FROM s
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with per-vector max-abs scale — the
    storage/serving compression step of an embedding pipeline (4×
    smaller than float32; dequantize ≈ qvec·maxabs/127).  Pure
    element-wise Catalyst: transform + array_max per row, no shuffle,
    no Python — at 100 TB this is a map-only pass that writes straight
    back to parquet.  Oracle replays identical double-math in DuckDB
    (both engines round half-away-from-zero).  ``qvec`` is emitted as
    a comma-joined string: the comparator canonicalizes rows through a
    pandas sort, which cannot hash ndarray cells — a production writer
    would keep the array<tinyint> column (tests/test_similarity.py
    pins the array form)."""
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    ev = F.transform("embedding", lambda x: x.cast("double"))
    v = e.select("vec_id", ev.alias("ev"))
    s = v.withColumn("maxabs", F.array_max(F.transform("ev", F.abs)))
    return s.select(
        "vec_id",
        F.round("maxabs", 6).alias("scale"),
        F.array_join(
            F.transform(
                "ev",
                lambda x: F.round(F.lit(127.0) * x / F.col("maxabs"))
                .cast("int")
                .cast("string"),
            ),
            ",",
        ).alias("qvec"),
    )


_L2SQ = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    """Unroll ``iters`` Lloyd rounds as SQL CTEs (assign → recompute),
    mirroring operators/kmeans.py round for round."""
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev"
        " FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, ev AS cv"
        f" FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT {k}))",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        d2 = _L2SQ.format(a="v.ev", b="c.cv")
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, ev, cid, d2 FROM (
    SELECT v.vec_id, v.ev, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cid) AS rk
    FROM v, {prev} c) WHERE rk = 1)"""
        )
        parts.append(
            f"cd{it} AS (SELECT cid, i, avg(ev[i]) AS cv"
            f" FROM a{it}, range(1, 65) t(i) GROUP BY cid, i)"
        )
        parts.append(
            f"c{it} AS (SELECT cid, list(cv ORDER BY i) AS cv FROM cd{it} GROUP BY cid)"
        )
        prev = f"c{it}"
    d2 = _L2SQ.format(a="v.ev", b="c.cv")
    parts.append(
        f"""af AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT v.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cid) AS rk
    FROM v, {prev} c) WHERE rk = 1)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT cid, count(*) AS n_vecs, round(sum(d2), 4) AS inertia"
        + "\nFROM af GROUP BY cid"
    )


@query("ann_kmeans_train", oracle=_kmeans_oracle())
def ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 2 Lloyd rounds of k-means (k=4,
    deterministic lowest-id init) over the embedding column, reporting
    per-cluster size and inertia of the final assignment.

    Each round pins the k×dim centroid MODEL to the driver and folds it
    back in as a plan literal (see operators/kmeans.py): the assign
    step is a map-only projection (argmin inside one codegen span — no
    crossJoin, no window; asserted in tests/test_plans.py), so the only
    per-round shuffle is the (cid, dim)-keyed centroid average.  The
    oracle replays the identical rounds as SQL CTEs."""
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("ev")
    ).persist()
    assign = KM.lloyd(v, "vec_id", "ev", 4, 2)
    return assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("d2"), 4).alias("inertia"),
    )


_INT8_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> ({a}[i] * {b}[i])::BIGINT), (x, y) -> x + y)"
)

_IVF_INT8_ORACLE = f"""
WITH bits AS (
  SELECT {_ivf_bits_case("count(*)")} AS k FROM embeddings
),
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS ev,
         left({_duck_table_key("list_transform(embedding, x -> x::DOUBLE)", 0, _IVF_SUB_PLANES, len(_IVF_SUB_PLANES))},
              (SELECT k FROM bits)) AS sub
  FROM embeddings
),
cdim AS (
  SELECT label, i, avg(ev[i]) AS cv
  FROM v, range(1, 65) t(i)
  GROUP BY label, i
),
cent AS (SELECT label, list(cv ORDER BY i) AS cv FROM cdim GROUP BY label),
qz AS (
  SELECT vec_id, label, ev, sub,
         list_max(list_transform(ev, x -> abs(x))) AS maxabs
  FROM v
),
q8 AS (
  SELECT vec_id, label, ev, sub,
         list_transform(ev, x -> CAST(round(127.0 * x / maxabs) AS INT)) AS qv8
  FROM qz
),
qn AS (
  SELECT vec_id, label, ev, sub, qv8,
         sqrt(({_INT8_DOT.format(a="qv8", b="qv8")})::DOUBLE) AS q_norm
  FROM q8
),
q AS (
  SELECT vec_id AS query_id, ev AS qv, sub, qv8 AS qq8, q_norm AS q_qn
  FROM qn WHERE vec_id % 50 = 0
),
qc AS (
  SELECT query_id, qv, sub, qq8, q_qn, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_duck_cos("qv", "cv")} DESC, label) AS crk
  FROM q, cent
),
probe AS (SELECT query_id, qv, sub, qq8, q_qn, label FROM qc WHERE crk <= 2),
s1 AS (
  SELECT p.query_id, n.vec_id AS neighbor_id, p.qv, n.ev,
         ({_INT8_DOT.format(a="p.qq8", b="n.qv8")})::DOUBLE
           / (p.q_qn * n.q_norm) AS acos
  FROM probe p JOIN qn n ON n.label = p.label AND n.sub = p.sub
                        AND n.vec_id != p.query_id
),
s1r AS (
  SELECT query_id, neighbor_id, qv, ev,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY acos DESC, neighbor_id) AS ark
  FROM s1
),
cand AS (SELECT query_id, neighbor_id, qv, ev FROM s1r WHERE ark <= 10),
s2 AS (SELECT query_id, neighbor_id, {_duck_cos("qv", "ev")} AS cos FROM cand),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rk
  FROM s2
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rk FROM r WHERE rk <= 3
"""


@query("ann_ivf_int8_rescore", oracle=_IVF_INT8_ORACLE)
def ann_ivf_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized ANN — the FAISS IVF+SQ8 serving pattern:
    IVF-probe the 2 nearest lists, score candidates with INT8 integer
    dot products (4× less memory traffic than float32; the first-pass
    cost at 100 TB is memory-bandwidth-bound, which is exactly what
    quantization buys down), keep top-10 per query, then RESCORE that
    tiny candidate set with exact float cosine and emit top-3.

    Stage-1 scores are exact integers divided by precomputed norms, so
    both engines rank identically (no float-summation-order hazard);
    the oracle replays quantization, probe, integer scoring, and
    rescore bit-for-bit.  Scale: stage 1 touches the query's
    adaptive-width sign-LSH sub-shard of each probed list (same
    _IVF_SUB_PLANES ladder as ann_ivf_probe — 0 bits / bit-identical
    results below 2500 vectors; the fixed-list form measured ~45 GB of
    spill at 200k vectors, r10 probe) at a quarter of the bytes;
    stage 2 touches 10 rows per query.
    """
    e = spread(load_tables(spark, sf_dir)["embeddings"])
    n = e.agg(F.count(F.lit(1)).alias("__n"))
    ev_x = F.expr(SIM.d_sql("`embedding`"))
    v = (
        e.select(
            "vec_id",
            "label",
            ev_x.alias("ev"),
            SIM.expr_cached(
                SIM.lsh_bucket_sql(SIM.d_sql("`embedding`"), _IVF_SUB_PLANES)
            ).alias("__sig"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            "label",
            "ev",
            F.expr(f"substr(__sig, 1, {_ivf_bits_case('__n')})").alias("sub"),
        )
    )
    # v is NOT persisted (r14): its only remaining consumer is qn below
    # — the centroid aggregate now reads qn too, so caching the
    # intermediate would just duplicate qn's cache.

    # per-vector int8 quantization + integer norm (one map-only pass);
    # the whole block as parsed SQL (r14, guide §7.3): the
    # transform/zip_with/aggregate lambda cascade cost ~700 py4j
    # round-trips per construction — trees identical (0L is the same
    # long-typed zero as F.lit(0).cast("long"), bare 127.0 the same
    # double literal)
    def _int_dot_sql(a_sql: str, b_sql: str) -> str:
        return (
            "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x * y AS LONG)), "
            "0L, (acc, z) -> acc + z)"
        ).format(a=a_sql, b=b_sql)

    qn = (
        # maxabs STAGED in its own projection: Catalyst does not CSE
        # inside HOF lambdas, so inlining it into the transform would
        # recompute the array_max per ELEMENT (the r13 45 s trap)
        v.selectExpr(
            "vec_id",
            "label",
            "ev",
            "sub",
            "array_max(transform(ev, y -> abs(y))) AS maxabs",
        )
        .selectExpr(
            "vec_id",
            "label",
            "ev",
            "sub",
            "transform(ev, x -> CAST(round(127.0 * x / maxabs) AS INT)) AS qv8",
        )
        .selectExpr(
            "vec_id",
            "label",
            "ev",
            "sub",
            "qv8",
            f"sqrt(CAST({_int_dot_sql('qv8', 'qv8')} AS DOUBLE)) AS q_norm",
        )
        .persist()
    )
    # centroids from the SAME cached frame (qn carries ev), collected
    # at construction (r14, guide §1.2): one job both materializes qn's
    # cache — replacing the r13 qn.count(), whose only purpose was
    # beating the consumer-stage cache race — and removes the centroid
    # subtree + broadcast from the returned plan.  nlist×dim MODEL
    # state, the same bounded-aggregate contract as ann_ivf_probe.
    cdim = (
        qn.select("label", F.posexplode("ev").alias("i", "val"))
        .groupBy("label", "i")
        .agg(F.avg("val").alias("cv"))
    )
    cent_rows = (
        cdim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cv"))), lambda s: s["cv"]
            ).alias("cv")
        )
        .collect()
    )
    cent_lit = "array({})".format(
        ",".join(
            "named_struct('label', {}, 'cv', array({}))".format(
                int(r["label"]), ",".join(f"{float(x)!r}D" for x in r["cv"])
            )
            for r in sorted(cent_rows, key=lambda r: r["label"])
        )
    )

    # probe + two-stage scoring tail as parsed selectExpr batches (r14,
    # guide §7.3; windows ride the OVER clause — same trees)
    q = qn.filter("vec_id % 50 = 0").selectExpr(
        "vec_id AS query_id",
        "ev AS qv",
        "sub",
        "qv8 AS qq8",
        "q_norm AS q_qn",
    )
    probe = (
        q.selectExpr(
            "query_id", "qv", "sub", "qq8", "q_qn", f"explode({cent_lit}) AS c"
        )
        .selectExpr(
            "query_id",
            "qv",
            "sub",
            "qq8",
            "q_qn",
            "c.label AS label",
            "row_number() OVER (PARTITION BY query_id ORDER BY"
            f" ({SIM.cosine_sql('`qv`', 'c.cv')}) DESC, c.label) AS crk",
        )
        .filter("crk <= 2")
        .selectExpr("query_id", "qv", "sub", "qq8", "q_qn", "label")
    )

    # no broadcast hint: the probe side is fact-proportional (|Q| ∝ N)
    cand = (
        qn.join(probe, ["label", "sub"])
        .filter("vec_id != query_id")
        .selectExpr(
            "query_id",
            "qv",
            "vec_id",
            "ev",
            f"CAST({_int_dot_sql('qq8', 'qv8')} AS DOUBLE)"
            " / (q_qn * q_norm) AS acos",
        )
        .selectExpr(
            "query_id",
            "qv",
            "vec_id AS neighbor_id",
            "ev",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY acos DESC, vec_id) AS ark",
        )
        .filter("ark <= 10")
        .selectExpr("query_id", "qv", "neighbor_id", "ev")
    )
    return (
        cand.selectExpr(
            "query_id",
            "neighbor_id",
            f"{SIM.cosine_sql('`qv`', '`ev`')} AS cos",
        )
        .selectExpr(
            "query_id",
            "neighbor_id",
            "round(cos, 6) AS cos",
            "CAST(row_number() OVER (PARTITION BY query_id"
            " ORDER BY cos DESC, neighbor_id) AS LONG) AS rk",
        )
        .filter("rk <= 3")
    )


_KNN_ORACLE = f"""
WITH bits AS (
  SELECT {_ivf_bits_case("count(*)")} AS k FROM embeddings
),
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS ev,
         left({_duck_table_key("list_transform(embedding, x -> x::DOUBLE)", 0, _IVF_SUB_PLANES, len(_IVF_SUB_PLANES))},
              (SELECT k FROM bits)) AS sub
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         {_duck_cos("a.ev", "b.ev")} AS cos
  FROM v a JOIN v b ON a.label = b.label AND a.sub = b.sub
                   AND a.vec_id != b.vec_id
),
r AS (
  SELECT vec_id, nbr_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rk
  FROM p
)
SELECT vec_id, nbr_id, round(cos, 4) AS cos, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 2
"""


@query("knn_graph_blocked", oracle=_KNN_ORACLE)
def knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction with blocking: each vector's top-2 cosine
    neighbors within its block (``label`` — in production the block key
    is a coarse quantizer cell or LSH bucket).  The edge list feeds
    SemDeDup / graph-clustering passes (see semdedup_centroid,
    dedup_cc_clusters).

    All-pairs exists ONLY inside a block: ONE shuffle keyed on the
    block id, then per-block numpy inside ``applyInPandas`` — the
    standard distributed kNN-graph recipe (FAISS-per-cell; never a
    corpus×corpus product).  The r3 formulation (block-keyed self-join
    + per-pair ``zip_with`` folds) was correct but evaluated 3 Catalyst
    lambda folds per pair — 15.5 s at sf0.1; the vectorized block
    kernel is ~20× faster and the Arrow transfer is one batch per
    block.  Memory is bounded: dot tiles are computed in 1024-row query
    chunks (CH×|block|, never |block|²) and norms once per vector, so
    an oversized quantizer cell degrades gracefully instead of OOMing.

    Cross-engine determinism: the kernel accumulates dim-by-dim in
    index order (``acc += v[:,k]·v[:,k]ᵀ``), reproducing bit-exactly
    the left-fold `aggregate`/`list_reduce` order both engines use, and
    rounding stays Spark-side (`F.round`, HALF_UP — numpy's `round` is
    HALF_EVEN and would drift on .00005 boundaries)."""
    import pandas as pd

    e = load_tables(spark, sf_dir)["embeddings"]
    n = e.agg(F.count(F.lit(1)).alias("__n"))
    # block key = (label, adaptive sign-LSH sub-key): the same width
    # ladder as the IVF probes (0 bits — plain label blocks, results
    # bit-identical — below 2500 vectors; then [0,8] bits holding block
    # occupancy ≤ 2500).  A fixed block count makes the per-block
    # |block|² kernel quadratic in N even vectorized; occupancy-bounded
    # blocks make total FLOPs N × target × dim — linear.
    v = (
        e.select(
            "vec_id",
            "label",
            "embedding",
            SIM.expr_cached(
                SIM.lsh_bucket_sql(SIM.d_sql("`embedding`"), _IVF_SUB_PLANES)
            ).alias("__sig"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            "label",
            "embedding",
            F.expr(f"substr(__sig, 1, {_ivf_bits_case('__n')})").alias("sub"),
        )
    )

    def _block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        empty = pd.DataFrame(
            {"vec_id": pd.Series(dtype="int64"), "nbr_id": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64"), "rk": pd.Series(dtype="int32")}
        )
        if n < 2:
            return empty
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        d = V.shape[1]
        # norms: left-fold over dims (engine-identical accumulation)
        nsq = V[:, 0] * V[:, 0]
        for k in range(1, d):
            nsq = nsq + V[:, k] * V[:, k]
        nrm = np.sqrt(nsq)
        out_vec, out_nbr, out_cos, out_rk = [], [], [], []
        CH = 1024
        for s in range(0, n, CH):
            sub = V[s : s + CH]
            c = sub.shape[0]
            dots = sub[:, 0:1] * V[:, 0:1].T
            for k in range(1, d):
                dots += sub[:, k : k + 1] * V[:, k : k + 1].T
            cos = dots / (nrm[s : s + c, None] * nrm[None, :])
            cos[np.arange(c), np.arange(s, s + c)] = -np.inf  # mask self
            for i in range(c):
                row = cos[i]
                # top-2 by cos DESC, nbr_id ASC (lexsort: last key primary)
                top = np.lexsort((ids, -row))[:2]
                for rk, j in enumerate(top, start=1):
                    if row[j] == -np.inf:
                        break
                    out_vec.append(ids[s + i])
                    out_nbr.append(ids[j])
                    out_cos.append(row[j])
                    out_rk.append(rk)
        if not out_vec:
            return empty
        return pd.DataFrame(
            {"vec_id": np.asarray(out_vec, dtype=np.int64),
             "nbr_id": np.asarray(out_nbr, dtype=np.int64),
             "cos": np.asarray(out_cos, dtype=np.float64),
             "rk": np.asarray(out_rk, dtype=np.int32)}
        )

    edges = v.groupBy("label", "sub").applyInPandas(
        _block_topk, "vec_id long, nbr_id long, cos double, rk int"
    )
    return edges.select("vec_id", "nbr_id", F.round("cos", 4).alias("cos"), "rk")


# -- Product quantization (ADC) -------------------------------------------

_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 4


def _l2_16(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {_PQ_SUB + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _pq_oracle(m: int = _PQ_M, sub: int = _PQ_SUB, k: int = _PQ_K) -> str:
    """Replay PQ training + ADC scoring as SQL CTEs: per subspace one
    Lloyd round (same deterministic init as operators/kmeans.py), then
    codes via argmin and query-to-centroid lookup distances."""
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev"
        " FROM embeddings)",
        "vs AS (SELECT vec_id, "
        + ", ".join(f"ev[{s * sub + 1}:{(s + 1) * sub}] AS sub{s}" for s in range(m))
        + " FROM v)",
        "q AS (SELECT "
        + ", ".join(f"sub{s} AS q{s}" for s in range(m))
        + " FROM vs ORDER BY vec_id LIMIT 1)",
    ]
    for s in range(m):
        d = _l2_16(f"vs.sub{s}", "c.cv")
        parts += [
            f"c0_{s} AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid,"
            f" sub{s} AS cv FROM (SELECT vec_id, sub{s} FROM vs"
            f" ORDER BY vec_id LIMIT {k}))",
            f"""a1_{s} AS (
  SELECT vec_id, sub{s}, cid FROM (
    SELECT vs.vec_id, vs.sub{s}, c.cid, {d} AS d2,
           row_number() OVER (PARTITION BY vs.vec_id ORDER BY {d}, c.cid) AS rk
    FROM vs, c0_{s} c) WHERE rk = 1)""",
            f"cd_{s} AS (SELECT cid, i, avg(sub{s}[i]) AS cv"
            f" FROM a1_{s}, range(1, {sub + 1}) t(i) GROUP BY cid, i)",
            f"c1_{s} AS (SELECT cid, list(cv ORDER BY i) AS cv FROM cd_{s}"
            f" GROUP BY cid)",
            f"""e_{s} AS (
  SELECT vec_id, cid FROM (
    SELECT vs.vec_id, c.cid, {d} AS d2,
           row_number() OVER (PARTITION BY vs.vec_id ORDER BY {d}, c.cid) AS rk
    FROM vs, c1_{s} c) WHERE rk = 1)""",
            f"qd_{s} AS (SELECT c.cid, {_l2_16(f'q.q{s}', 'c.cv')} AS qd2"
            f" FROM c1_{s} c, q)",
        ]
    joins = " ".join(
        f"JOIN e_{s} ON e_{s}.vec_id = vs.vec_id"
        f" JOIN qd_{s} ON qd_{s}.cid = e_{s}.cid"
        for s in range(m)
    )
    adc = " + ".join(f"qd_{s}.qd2" for s in range(m))
    codecat = " || '-' || ".join(f"CAST(e_{s}.cid AS VARCHAR)" for s in range(m))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vs.vec_id, round({adc}, 4) AS adc_d2, {codecat} AS code"
        + f"\nFROM vs {joins}"
        + f"\nORDER BY {adc}, vs.vec_id LIMIT 10"
    )


def _pq_qd2(q: list[float], cv: list[float]) -> float:
    """Driver-side query-to-centroid distance: the same left fold from
    0.0 the Spark/DuckDB expressions state, so the table is
    bit-identical model state, not a third arithmetic."""
    acc = 0.0
    for a, b in zip(q, cv):
        acc += (a - b) * (a - b)
    return acc


@query("ann_pq_adc", oracle=_pq_oracle())
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance (the FAISS PQ/ADC
    shape): split the 64-dim space into 4 subspaces of 16 dims, train a
    4-centroid codebook per subspace (1 Lloyd round, deterministic
    lowest-id init — operators/kmeans.py:lloyd_centroids_multi), encode
    every vector as 4 small codes, and rank the corpus against a query vector
    by summing PRECOMPUTED query-to-centroid distances per subspace.

    Scale shape: codebooks are model state (m·k·sub = 256 doubles) pinned
    to the driver and folded back as plan literals, so encode+score is
    ONE map-only projection over the corpus — no join, no shuffle; the
    only non-map work is the TakeOrderedAndProject top-10.  At real
    sizes (m=8..64, k=256) the same plan holds: the codebook literal is
    ≤1 MB and each vector's scan cost drops from dim floats to m table
    lookups, which is why PQ is the memory-bound path to billion-vector
    ANN; compose with the IVF list filter (ann_ivf_probe) to cut the
    scan itself.  The oracle replays training + encode + ADC as CTEs."""
    v = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("ev")
    )
    vs = v.select(
        "vec_id",
        *[
            F.slice("ev", s * _PQ_SUB + 1, _PQ_SUB).alias(f"sub{s}")
            for s in range(_PQ_M)
        ],
    ).persist()  # feeds Lloyd training + the query-row pick (eager)
    # and the encode scan in the returned plan — which is why the query
    # itself can't unpersist it (LRU cache-lifetime contract)
    books_map = KM.lloyd_centroids_multi(
        vs, "vec_id", [f"sub{s}" for s in range(_PQ_M)], _PQ_K, 1
    )
    books = [books_map[f"sub{s}"] for s in range(_PQ_M)]
    qrow = vs.orderBy("vec_id").limit(1).collect()[0]

    best_cols = []
    for s in range(_PQ_M):
        qsub = [float(x) for x in qrow[f"sub{s}"]]
        # codebook + query-to-centroid distances as ONE parsed literal
        # and the scorer fold as ONE parsed expression (the per-element
        # F.lit / HOF-lambda form cost ~0.8 s of py4j driver time per
        # construction, measured r13; float.__repr__ round-trips
        # doubles exactly, `D` keeps every literal double-typed)
        lit_sql = "array({})".format(
            ",".join(
                "named_struct('cid', {cid}L, 'cv', array({cv}), 'qd2', {qd2}D)".format(
                    cid=int(cid),
                    cv=",".join(f"{float(x)!r}D" for x in cv),
                    qd2=repr(_pq_qd2(qsub, [float(x) for x in cv])),
                )
                for cid, cv in sorted(books[s])
            )
        )
        best_sql = (
            "array_min(transform({lit}, c -> named_struct("
            "'d2', {d2}, 'cid', c.cid, 'qd2', c.qd2)))"
        ).format(lit=lit_sql, d2=KM.l2sq_sql(f"`sub{s}`", "c.cv"))
        best_cols.append(F.expr(best_sql).alias(f"best{s}"))

    enc = vs.select("vec_id", *best_cols)
    adc = sum_col = None
    for s in range(_PQ_M):
        term = F.col(f"best{s}")["qd2"]
        sum_col = term if sum_col is None else sum_col + term
    adc = sum_col
    return (
        enc.orderBy(adc.asc(), F.col("vec_id").asc())
        .limit(10)
        .select(
            "vec_id",
            F.round(adc, 4).alias("adc_d2"),
            F.concat_ws(
                "-", *[F.col(f"best{s}")["cid"].cast("string") for s in range(_PQ_M)]
            ).alias("code"),
        )
    )
