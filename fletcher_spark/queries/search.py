"""Lexical retrieval queries (registered round 5): positional phrase
matching and BM25 ranking — the search-engine pillar next to the
similarity stack's ANN (vector) retrieval.

Both run index-STYLE algorithms on the fly (positional join, posting
aggregation); the docstrings note where the precomputed table goes at
100 TB.  All scores derive from exact integer counts, so the doubles
are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.pipeline import similarity as SIM
from fletcher_spark.queries.registry import query

#: demo phrase + ranked query over the corpus vocabulary
_PHRASE = ("hash", "join")
_QUERY_TERMS = ("hash", "join", "vector")
_K1, _B = 1.2, 0.75


def phrase_hits(docs: DataFrame, phrase: tuple[str, str]) -> DataFrame:
    """(doc_id, n_hits) for an exact two-token phrase via the positional
    postings join — factored out so tests exercise the SAME join the
    registered query runs."""
    post = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(F.col("tok").isin(*phrase))
    a = post.filter(F.col("tok") == phrase[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = post.filter(F.col("tok") == phrase[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return (
        a.join(b, (a.doc_id == b.doc_b) & (b.pb == a.pa + 1))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "search_phrase_positional",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(list_filter(range(1, len(ws)),
                i -> ws[i] = '{_PHRASE[0]}' AND ws[i + 1] = '{_PHRASE[1]}'))
            AS BIGINT) AS n_hits
FROM w
WHERE len(list_filter(range(1, len(ws)),
          i -> ws[i] = '{_PHRASE[0]}' AND ws[i + 1] = '{_PHRASE[1]}')) > 0
""",
)
def search_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching via a POSITIONAL index: explode each doc
    to (doc_id, position, token) postings, self-join position p with
    p+1 on the two phrase terms, count hits per doc.  This is how an
    inverted index with positions answers phrase queries — and unlike
    substring counting it is correct for self-overlapping phrase chains
    ("hash join hash join" = 2 hits; non-overlapping substring search
    of ' hash join ' finds 1, because the trailing delimiter of one
    match is the leading delimiter of the next).  The oracle states the
    same semantics as a per-document array scan — a deliberately
    different algorithm.

    Scale shape: the postings explode is map-only and pre-FILTERED to
    the two phrase terms before the position join, so the join input is
    |postings-of-terms|, not |corpus tokens|; at 100 TB the postings
    table is the precomputed artifact (bucketed by term) and this query
    reads two postings lists."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    return phrase_hits(d, _PHRASE)


def _bm25_lex_ctes(final_name: str = "lex") -> str:
    """The lexical scoring CTE chain, shared by _bm25_oracle and
    _hybrid_oracle so the two oracles cannot drift.  BM25 constants are
    interpolated pre-computed and CAST AS DOUBLE: a bare ``1.2`` is a
    DuckDB DECIMAL literal with exact-decimal arithmetic, which differs
    from Spark's binary doubles in the last ulps."""
    terms = ", ".join(f"'{t}'" for t in _QUERY_TERMS)
    k1 = f"CAST({_K1} AS DOUBLE)"
    k1p1 = f"CAST({_K1 + 1} AS DOUBLE)"
    one_minus_b = f"CAST({1 - _B} AS DOUBLE)"
    b = f"CAST({_B} AS DOUBLE)"
    return f"""w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM w),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, u.t AS term, count(*)::BIGINT AS tf
  FROM w, unnest(ws) AS u(t)
  WHERE u.t IN ({terms})
  GROUP BY doc_id, u.t),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
{final_name} AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * {k1p1})
             / (tf.tf + {k1} * ({one_minus_b} + {b} * dl.dl / stats.avgdl)))
           AS score
  FROM tf
  JOIN df ON df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_bm25_lex_ctes("sc")}
SELECT doc_id, round(score, 4) AS bm25
FROM sc ORDER BY score DESC, doc_id LIMIT 10
"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) BM25 table for _QUERY_TERMS — shared by the
    top-k query and the hybrid RRF fusion.

    Single-scan form (r13, guide §2.3-2.4 "aggregate before you
    shuffle / remove shuffles outright"): for a FIXED small query-term
    set, per-doc term frequencies are in-row array ops
    (``size(filter(ws, = term))`` per term), so the whole lexical
    pipeline is ONE scan → one 1-row stats aggregate (n, avgdl, and
    each term's document frequency as a conditional count) broadcast
    back → one map-side score projection.  The previous form exploded
    the corpus to postings and paid two hash-agg shuffles plus two
    joins for the same integers (r13 measured the tf/df/dl chain as
    the query's two dominant jobs).  All inputs (tf, df, dl, n) are
    exactly the same integers, so the score doubles agree with the
    postings form within summation order — absorbed by the round(4)
    output contract exactly as the cross-engine oracle comparison
    already relies on.  Docs containing none of the terms produce no
    row (the ``any tf > 0`` filter), matching the postings semantics.
    At 100 TB: no corpus-sized shuffle at all; the one aggregate is
    map-side-combined into a single row."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    # stage the tokenization through its own projection: ws is consumed
    # four times below (dl + one tf per term) and CollapseProject keeps
    # a non-cheap expression staged when it is referenced more than
    # once, so split+filter runs once per row (same discipline as
    # text_boilerplate_ratio's token-hash staging).  Everything is
    # built as parsed SQL text (r13 wave 10, guide §7.3): the Column-
    # API form of this function cost ~0.5 s of py4j round-trips per
    # construction; the parsed trees are node-identical (double
    # literals carry the D suffix — a bare 0.5 would parse DECIMAL —
    # and the score sum keeps reduce()'s left fold).
    w = d.selectExpr("doc_id", "filter(split(text, ' '), x -> x != '') AS ws")
    per = w.selectExpr(
        "doc_id",
        "CAST(size(ws) AS BIGINT) AS dl",
        *[
            f"CAST(size(filter(ws, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(_QUERY_TERMS)
        ],
    )
    stats = per.agg(
        F.expr("count(1) AS n"),
        F.expr("avg(dl) AS avgdl"),
        *[
            F.expr(f"sum(CAST(tf{i} > 0 AS BIGINT)) AS df{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )

    def _contrib(i: int) -> str:
        c = (
            f"ln(1 + (n - df{i} + 0.5D) / (df{i} + 0.5D))"
            f" * (tf{i} * {float(_K1 + 1)!r}D)"
            f" / (tf{i} + {float(_K1)!r}D * ({float(1 - _B)!r}D"
            f" + {float(_B)!r}D * dl / avgdl))"
        )
        return f"CASE WHEN tf{i} > 0 THEN {c} ELSE 0.0D END"

    hit = " OR ".join(f"tf{i} > 0" for i in range(len(_QUERY_TERMS)))
    score = " + ".join(f"({_contrib(i)})" for i in range(len(_QUERY_TERMS)))
    return (
        per.crossJoin(F.broadcast(stats))
        .filter(hit)
        .selectExpr("doc_id", f"{score} AS score")
    )


@query("search_bm25_topk", oracle=_bm25_oracle())
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term query — the standard lexical ranking
    (idf = ln(1 + (N - df + ½)/(df + ½)), tf saturation k1 = 1.2,
    length normalization b = 0.75).  Every input (tf, df, dl, N) is an
    exact integer and the oracle's BM25 constants are cast to DOUBLE
    (a bare 1.2 is exact-DECIMAL in DuckDB), so both engines run the
    same double arithmetic; round(4) absorbs any residual ulp.

    Scale shape: term-filtered postings (tf) + a |terms|-row df table
    and a 1-row corpus stat, both broadcast; per-doc score is one
    hash-agg over ≤|terms| rows per doc and the top-10 is
    TakeOrderedAndProject.  At 100 TB tf/df/dl are the precomputed
    index tables (the same artifacts tfidf_doc_topk builds) and the
    query never touches raw text."""
    sc = _bm25_scores(spark, sf_dir)
    return (
        sc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


_RRF_K, _LEG_TOPK = 60, 20


def _hybrid_oracle() -> str:
    dot = ("list_reduce(list_transform(range(1, 65), "
           "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
    cos = (f"{dot.format(a='v.ev', b='q.ev')} / "
           f"(sqrt({dot.format(a='v.ev', b='v.ev')})"
           f" * sqrt({dot.format(a='q.ev', b='q.ev')}))")
    return f"""
WITH {_bm25_lex_ctes("lex")},
rl AS (
  SELECT doc_id, rk FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
    FROM lex) WHERE rk <= {_LEG_TOPK}),
v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
q AS (SELECT ev FROM v ORDER BY vec_id LIMIT 1),
cosine AS (SELECT v.vec_id AS doc_id, {cos} AS c FROM v, q),
rv AS (
  SELECT doc_id, rk FROM (
    SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rk
    FROM cosine) WHERE rk <= {_LEG_TOPK})
SELECT coalesce(rl.doc_id, rv.doc_id) AS doc_id,
       round(coalesce(1.0 / ({_RRF_K} + rl.rk), 0)
             + coalesce(1.0 / ({_RRF_K} + rv.rk), 0), 6) AS rrf
FROM rl FULL OUTER JOIN rv ON rl.doc_id = rv.doc_id
ORDER BY coalesce(1.0 / ({_RRF_K} + rl.rk), 0)
         + coalesce(1.0 / ({_RRF_K} + rv.rk), 0) DESC,
         coalesce(rl.doc_id, rv.doc_id)
LIMIT 10
"""


@query("search_hybrid_rrf", oracle=_hybrid_oracle())
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion — the standard RAG
    stack: a LEXICAL leg (BM25 over the query terms) and a VECTOR leg
    (cosine against the query embedding) each produce a top-20 ranking,
    fused as score = Σ 1/(60 + rank).  Rank fusion needs no score
    calibration between legs — exactly why RRF is the default when
    combining BM25 (unbounded) with cosine ([-1, 1]).

    Determinism: ranks are integers from tie-broken orderings, so the
    fused doubles are identical sums in both engines.  Scale shape:
    each leg is its own pipeline ending in a top-k (the rank windows
    run over leg RESULTS, not the corpus); fusion is a 2x20-row outer
    join.  doc_id and vec_id share the id space here; in production
    the vector leg is the IVF/PQ path (ann_ivf_probe, ann_pq_adc)
    instead of exact cosine."""
    from pyspark.sql import Window

    lex = _bm25_scores(spark, sf_dir)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    rl = (
        lex.select("doc_id", F.row_number().over(wl).alias("rk"))
        .filter(F.col("rk") <= _LEG_TOPK)
    )

    v = load_tables(spark, sf_dir)["embeddings"]
    q = [float(x) for x in v.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    # q as one parsed literal (the centroid_literal_sql form), not a
    # py4j call per element; |q| stays a Python ``** 0.5``, since
    # Spark's sqrt may round the last bit differently
    q_sql = "array({})".format(",".join(f"{x!r}D" for x in q))
    qnorm = sum(x * x for x in q) ** 0.5
    cosine = v.select(
        F.col("vec_id").alias("doc_id"),
        F.expr(
            f"({SIM.dot_sql('embedding', q_sql)})"
            f" / (({SIM.l2_norm_sql('embedding')}) * {qnorm!r}D)"
        ).alias("c"),
    )
    wv = Window.orderBy(F.col("c").desc(), F.col("doc_id").asc())
    rv = (
        cosine.select("doc_id", F.row_number().over(wv).alias("rk"))
        .filter(F.col("rk") <= _LEG_TOPK)
    )

    rl2 = rl.select(F.col("doc_id").alias("ld"), F.col("rk").alias("lr"))
    rv2 = rv.select(F.col("doc_id").alias("vd"), F.col("rk").alias("vr"))
    fused = rl2.join(rv2, rl2.ld == rv2.vd, "full_outer").select(
        F.coalesce("ld", "vd").alias("doc_id"),
        (
            F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("vr")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("rrf_raw", 6).alias("rrf"))
    )
