"""Deduplication queries over ``documents`` (LLM-pipeline extensions).

Exact dedup, MinHash-LSH near-dup, and SimHash near-dup — all with full
DuckDB oracles: the hash family is md5-based (identical bits in both
engines), so even the LSH banding and SimHash bit-sums are
value-checked end-to-end, not just row-counted.

The synthetic corpus plants ~25 near-duplicate pairs (shingle Jaccard
0.90–0.99); both near-dup queries must surface exactly those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.operators import graph as G
from fletcher_spark.pipeline import dedup as D
from fletcher_spark.queries.registry import query


@query(
    "dedup_exact",
    oracle="""
WITH k AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS key
  FROM documents
)
SELECT key, count(*) AS n_docs, min(doc_id) AS keep_id
FROM k GROUP BY key HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a normalized key (first 8 tokens —
    title/prefix dedup), keep-min policy.  One partial+final hash
    aggregate keyed on a 32-char digest: the canonical 100 TB exact
    dedup (shuffle is |distinct keys|, map-side combined)."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    key = F.md5(F.array_join(F.slice(F.split("text", " ", -1), 1, 8), " "))
    return (
        d.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


_MINHASH_CTES_T = """tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
hv AS (
  SELECT doc_id, s,
         list_transform(s, x -> ('0x' || substr(md5(x), 1, 14))::BIGINT) AS v1,
         list_transform(s, x -> ('0x' || substr(md5(x), 15, 14))::BIGINT) AS v2
  FROM sh
),
sig AS (
  SELECT doc_id, s, [
    {minhashes}
  ] AS sg
  FROM hv
),
{nn},
bands AS (
  SELECT doc_id,
         b.band AS band,
         md5(array_to_string(list_transform(list_slice(sg, b.band*nn.rpb + 1, (b.band+1)*nn.rpb), x -> x::VARCHAR), '|')) AS key
  FROM sig, nn, (SELECT unnest([0,1,2,3]) AS band) b
  WHERE b.band < 12 // nn.rpb
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
  FROM bands a
  JOIN bands b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
),
ver AS (
  SELECT id1, id2,
         len(list_intersect(s1.s, s2.s))::DOUBLE
           / len(list_distinct(list_concat(s1.s, s2.s))) AS j
  FROM cand
  JOIN sh s1 ON s1.doc_id = id1
  JOIN sh s2 ON s2.doc_id = id2
)""".format(
    minhashes=",\n    ".join(
        "list_min(list_transform(range(1, len(s) + 1), "
        f"i -> (v1[i] + {j} * v2[i]) % 2305843009213693951))"
        for j in range(12)
    ),
    nn="{nn}",
)

#: adaptive rendering: corpus-size-adaptive rows-per-band (Broder
#: ladder) — the SAME integer-threshold CASE the Spark plan evaluates,
#: so base and re-banded branches alike are value-checked
#: (pipeline/dedup.py:LSH_BAND_LADDER; bands = 12 // rpb)
_MINHASH_CTES = _MINHASH_CTES_T.format(
    nn="nn AS (SELECT " + D.lsh_rpb_case_sql("count(*)") + " AS rpb FROM documents)"
)

#: fixed-4×3 rendering for dedup_incremental_batch ONLY: its Spark side
#: bands 4×3 by design (persisted index layout — see the query body),
#: so its oracle must NOT follow the corpus-size ladder or query and
#: oracle would diverge the moment a corpus exceeds the first rung
#: (caught in r12 review before any driver scale could reach it)
_MINHASH_CTES_FIXED = _MINHASH_CTES_T.format(nn="nn AS (SELECT 3 AS rpb)")

_MINHASH_ORACLE = (
    "WITH "
    + _MINHASH_CTES
    + """
SELECT id1, id2, round(j, 4) AS jaccard FROM ver WHERE j >= 0.5
"""
)

_CC_ORACLE = (
    "WITH RECURSIVE "
    + _MINHASH_CTES
    + """,
edges AS (SELECT id1 AS a, id2 AS b FROM ver WHERE j >= 0.5),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
"""
)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, end to end:

    word 3-shingles → 12 md5-family MinHashes → corpus-size-adaptive
    (bands × rows) banding → bucket-join candidates → exact-Jaccard
    verification ≥ 0.5.

    The band layout is the Broder ladder (pipeline/dedup.py:
    LSH_BAND_LADDER): 4×3 up to 20k docs (every driver scale —
    bit-identical to the fixed layout all prior stamps verified),
    3×4 to 2M, 2×6 beyond.  rows-per-band ∝ log(N) is what keeps the
    BACKGROUND candidate volume linear in the corpus at 100 TB —
    band-key occupancy is content-addressed and flat, but the
    per-random-pair collision probability bands·j0^rows must fall as
    1/N for Σ candidates ∝ N (SCALE.md r11 adjudication, made code in
    r12).  The 12-wide signature re-bands as a pure projection — no
    MinHash re-scan.

    Scale: signatures are map-only; the only shuffles are the band
    bucket group and the candidates-only verify join — all-pairs never
    exists (pipeline/dedup.py:candidate_pairs).  The corpus count is a
    broadcast one-row aggregate (no driver collect).
    """
    base = load_tables(spark, sf_dir)["documents"]
    d = spread(base)
    # ladder input: count the UNSPREAD scan — a count has no per-row
    # compute for spread()'s round-robin shuffle to parallelize, and
    # count-star over parquet is metadata-cheap (r12 review)
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    # shingles feed both the signature and the verify join; the diamond
    # would otherwise recompute the shingling sub-DAG per consumer
    sh = D.shingle_frame(d, "text", 3).persist()
    # no sh.count() (r14): candidate_pairs(materialize=True) below
    # counts the exploded key frame, whose plan is a LINEAR chain over
    # this cache — that one construction-time action fills sh's cache
    # before any exec-time consumer (the verify join's shingle-side map
    # stages) can race it, so the r13 count was a duplicate shingle
    # pass
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    banded = sig.crossJoin(F.broadcast(n)).select(
        "doc_id", F.expr(D.lsh_band_keys_adaptive_sql("sig", "__n")).alias("band_keys")
    )
    # materialize=True: AQE fails to reuse the self-join's twin
    # exchanges here (cached-child canonicalization — see
    # candidate_pairs), so without it the whole signature+banding chain
    # executes twice per run
    pairs = D.candidate_pairs(banded, "doc_id", materialize=True)
    return D.verify_jaccard(pairs, sh, "doc_id", "shingles", 0.5)


_SIMHASH_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
bits AS (
  SELECT doc_id,
    list_transform(
      list_reduce(
        list_transform(s, t ->
          list_transform(range(0, 64), i -> CASE
            WHEN i < 32 THEN ((('0x' || substr(md5(t), 1, 8))::BIGINT >> (31 - i)::INT) & 1) * 2 - 1
            ELSE            ((('0x' || substr(md5(t), 9, 8))::BIGINT >> (63 - i)::INT) & 1) * 2 - 1
          END)),
        (a, b) -> list_transform(range(1, 65), i -> a[i] + b[i])),
      v -> CASE WHEN v > 0 THEN 1 ELSE 0 END) AS bv
  FROM sh
),
bands AS (
  SELECT doc_id, k.band AS band,
         array_to_string(list_slice(bv, k.band*8 + 1, k.band*8 + 8), '') AS key
  FROM bits, (SELECT unnest([0,1,2,3,4,5,6,7]) AS band) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
  FROM bands a
  JOIN bands b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
),
ham AS (
  SELECT id1, id2,
         len(list_filter(range(1, 65), i -> x.bv[i] != y.bv[i])) AS hamming
  FROM cand JOIN bits x ON x.doc_id = id1 JOIN bits y ON y.doc_id = id2
)
SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming FROM ham WHERE hamming <= 8
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature over word 3-shingles, 8×8-bit
    chunk bucketing (pigeonhole: Hamming ≤ 7 ⇒ ≥1 shared chunk),
    Hamming ≤ 8 verification on candidates only.

    The signature runs as explode → packed-lane codegen projections →
    map-side-combined sums (pipeline/dedup.py:simhash_df) — the shuffle
    is |docs|×16 longs; the oracle recomputes the identical md5-derived
    bits in SQL.  Banding and verification both use the single packed
    word: chunk keys are integer byte-slices and Hamming distance is
    ``bit_count(sig XOR sig')`` — two codegen ops per candidate pair
    (the 64-element array-walk formulation was ~50× more work per pair
    across ~400k candidates).
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    sh = D.shingle_frame(d, "text", 3)
    # the signature table fans out to banding and BOTH sides of the
    # pair join — persist it or the explode+sum sub-DAG runs three times
    bits = D.simhash_df(sh, "doc_id", "shingles").select("doc_id", "sig").persist()
    bits.count()  # materialize: 3 consumers race the cache otherwise (r13)
    banded = bits.select(
        "doc_id", F.expr(D.simhash_chunks_packed_sql("sig", 8)).alias("band_keys")
    )
    # distinct AFTER the Hamming filter: verification is two integer ops,
    # so letting multi-chunk collisions through is cheaper than shuffling
    # every candidate for an early dedup — the filter kills ~all pairs
    # first and the distinct then handles dozens of rows, not 100k+
    pairs = D.candidate_pairs(banded, "doc_id", distinct=False)
    b1 = bits.select(F.col("doc_id").alias("id1"), F.col("sig").alias("s1"))
    b2 = bits.select(F.col("doc_id").alias("id2"), F.col("sig").alias("s2"))
    return (
        pairs.join(b1, "id1")
        .join(b2, "id2")
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("long"))
        .filter(F.col("hamming") <= 8)
        .select("id1", "id2", "hamming")
        .distinct()
    )


_SIMHASH128_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
bits AS (
  SELECT doc_id,
    list_transform(
      list_reduce(
        list_transform(s, t ->
          list_transform(range(0, 128), i -> CASE
            WHEN i < 32 THEN ((('0x' || substr(md5(t), 1, 8))::BIGINT >> (31 - i)::INT) & 1) * 2 - 1
            WHEN i < 64 THEN ((('0x' || substr(md5(t), 9, 8))::BIGINT >> (63 - i)::INT) & 1) * 2 - 1
            WHEN i < 96 THEN ((('0x' || substr(md5(t), 17, 8))::BIGINT >> (95 - i)::INT) & 1) * 2 - 1
            ELSE            ((('0x' || substr(md5(t), 25, 8))::BIGINT >> (127 - i)::INT) & 1) * 2 - 1
          END)),
        (a, b) -> list_transform(range(1, 129), i -> a[i] + b[i])),
      v -> CASE WHEN v > 0 THEN 1 ELSE 0 END) AS bv
  FROM sh
),
bands AS (
  SELECT doc_id, k.band AS band,
         array_to_string(list_slice(bv, k.band*16 + 1, k.band*16 + 16), '') AS key
  FROM bits, (SELECT unnest([0,1,2,3,4,5,6,7]) AS band) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
  FROM bands a
  JOIN bands b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
),
ham AS (
  SELECT id1, id2,
         len(list_filter(range(1, 129), i -> x.bv[i] != y.bv[i])) AS hamming
  FROM cand JOIN bits x ON x.doc_id = id1 JOIN bits y ON y.doc_id = id2
)
SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming FROM ham WHERE hamming <= 16
"""


@query("dedup_simhash128_pairs", oracle=_SIMHASH128_ORACLE)
def dedup_simhash128_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash near-dup — the corpus-scale widening of
    dedup_simhash_pairs: full-md5 two-word signature
    (pipeline/dedup.py:simhash_df_128), 8×16-bit chunk bucketing
    (65k-value keys: at ~10⁹ docs this keeps per-bucket membership
    ~1000× below the 8-bit chunks' 256 buckets, which is what holds the
    candidate join away from all-pairs), Hamming ≤ 16 verification —
    the same RELATIVE threshold (16/128 = 8/64) as the 64-bit query,
    two ``bit_count(xor)`` ops per candidate.
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    sh = D.shingle_frame(d, "text", 3)
    bits = (
        D.simhash_df_128(sh, "doc_id", "shingles")
        .select("doc_id", "sig1", "sig2")
        .persist()
    )
    bits.count()  # materialize: 3 consumers race the cache otherwise (r13)
    banded = bits.select(
        "doc_id",
        F.expr(D.simhash_chunks_packed_128_sql("sig1", "sig2", 8)).alias("band_keys"),
    )
    pairs = D.candidate_pairs(banded, "doc_id", distinct=False)
    b1 = bits.select(
        F.col("doc_id").alias("id1"), F.col("sig1").alias("x1"), F.col("sig2").alias("x2")
    )
    b2 = bits.select(
        F.col("doc_id").alias("id2"), F.col("sig1").alias("y1"), F.col("sig2").alias("y2")
    )
    return (
        pairs.join(b1, "id1")
        .join(b2, "id2")
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("x1").bitwiseXOR(F.col("y1")))
                + F.bit_count(F.col("x2").bitwiseXOR(F.col("y2")))
            ).cast("long"),
        )
        .filter(F.col("hamming") <= 16)
        .select("id1", "id2", "hamming")
        .distinct()
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH g AS (
  SELECT doc_id, lang, n_chars // 100 AS lenb,
    split_part(text, ' ', 1) AS tok1,
    list_distinct(list_transform(range(1, length(text) - 2),
                  i -> text[i:i+3])) AS grams
  FROM documents
),
cand AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.grams AS g1, b.grams AS g2
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.lenb = b.lenb AND a.tok1 = b.tok1
   AND a.doc_id < b.doc_id
)
SELECT id1, id2,
       round(len(list_intersect(g1, g2))::DOUBLE
             / len(list_distinct(list_concat(g1, g2))), 4) AS jaccard
FROM cand
WHERE len(list_intersect(g1, g2))::DOUBLE
      / len(list_distinct(list_concat(g1, g2))) >= 0.7
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 4-gram Jaccard near-dup with blocking:
    candidates share (lang, length-bucket, first token) — the classic
    cheap blocking key that bounds within-block pair counts — then
    exact set Jaccard ≥ 0.7.

    Scale: the blocking join shuffles on the composite key; pairing is
    quadratic ONLY in block size, which the key width controls (the
    first-token component alone cuts candidate pairs ~25× on this
    corpus).  LSH variants above are the unbounded-corpus path.

    Each 4-gram is reduced to an ``xxhash64`` LONG inside the per-doc
    transform, so the self-join shuffles ~8-byte-element arrays
    instead of 4-char-string arrays and the per-pair set ops compare
    longs (same content-addressed-key trade as the prefix-filter and
    boilerplate queries; Jaccard is identical up to a collision inside
    one pair's ~2 k-element union, ~2⁻⁵³ per pair).  ``|∪|`` is
    computed arithmetically as ``s1 + s2 − |∩|`` — the union array is
    never built.
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 3),
            lambda i: F.xxhash64(F.substring(F.col("text"), i, 4)),
        )
    )
    # both sides of the self-join read the gram table; persist it or the
    # scan + O(L) substring extraction runs twice
    g = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lenb"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("tok1"),
        grams.alias("grams"),
    ).persist()
    g.count()  # materialize: both self-join sides race the cache (r13)
    a = g.select(
        F.col("doc_id").alias("id1"),
        "lang",
        "lenb",
        "tok1",
        F.col("grams").alias("g1"),
    )
    b = g.select(
        F.col("doc_id").alias("id2"),
        "lang",
        "lenb",
        "tok1",
        F.col("grams").alias("g2"),
    )
    s1, s2 = F.size("g1"), F.size("g2")
    inter = F.size(F.array_intersect("g1", "g2"))
    jac = inter / (s1 + s2 - inter)
    return (
        a.join(b, ["lang", "lenb", "tok1"])
        .filter(F.col("id1") < F.col("id2"))
        # size bound: J = |∩|/|∪| ≤ min(|g1|,|g2|)/max(|g1|,|g2|), so the
        # O(|g|) set ops only run on pairs that can still clear 0.7 —
        # an O(1) prune that drops most within-block pairs at scale
        .filter(F.least(s1, s2) >= F.greatest(s1, s2) * 0.7)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.7)
        .select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))
    )


#: dedup-specific LSH geometry: 8 tables × 8 planes.  The ANN queries'
#: 4×4 layout optimizes recall on weakly-correlated query/neighbor
#: pairs; for DEDUP the targets are high-cosine near-copies, so the
#: keys can be much finer — 8-bit keys cut candidate volume ~10× here
#: (24% → ~2% of all pairs) while keeping P[candidate | cos ≥ 0.9]
#: = 1-(1-0.856^8)^8 ≈ 0.93.  Candidate recall IS the documented
#: accuracy/cost lever; the oracle replays the identical planes.
_EMB_TABLES = 8
#: base key width (8 = the r4-r9 fixed width: every corpus ≤
#: _EMB_TARGET·2^8 = 4096 vectors — all driver scales — produces
#: bit-identical keys and results) and the ladder's max width.  The
#: 100× probe measured the fixed 8-bit form at ~40 GB of self-join
#: spill on 200k vectors: a SELF-join's cost is Σ|bucket|²/2, so
#: occupancy must stay ~constant as the corpus grows — the smallest
#: width in [8, 16] with count ≤ 16·2^bits (pipeline/similarity.py:
#: bits_case_sql; the self-join target 16 is much tighter than the
#: ANN query target 128 because cost is quadratic in occupancy here,
#: linear there).  Each table's 8 extension planes are appended AFTER
#: its original 8, so truncation at the base width reproduces the old
#: keys exactly.
_EMB_PPT = 16
_EMB_BASE_BITS = 8
_EMB_TARGET = 16


def _emb_planes():
    from fletcher_spark.pipeline import similarity as SIM

    raw = SIM.hyperplane_signs(_EMB_TABLES * _EMB_PPT, 64, seed="dedup")
    base = _EMB_TABLES * _EMB_BASE_BITS
    ext = _EMB_PPT - _EMB_BASE_BITS
    return [
        row
        for t in range(_EMB_TABLES)
        for row in (
            raw[t * _EMB_BASE_BITS : (t + 1) * _EMB_BASE_BITS]
            + raw[base + t * ext : base + (t + 1) * ext]
        )
    ]


def _emb_bits_case(n_expr: str) -> str:
    from fletcher_spark.pipeline import similarity as SIM

    return SIM.bits_case_sql(n_expr, _EMB_TARGET, _EMB_BASE_BITS, _EMB_PPT)


def _build_emb_cos_oracle() -> str:
    """Shares the similarity module's LSH oracle fragments so the
    Spark plan and the SQL replay use identical hyperplanes."""
    from fletcher_spark.queries.similarity import _duck_cos, _duck_table_key

    _N_TABLES = _EMB_TABLES
    planes = _emb_planes()

    return f"""
WITH bits AS (
  SELECT {_emb_bits_case("count(*)")} AS k FROM embeddings
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
  FROM embeddings
),
b AS (
  SELECT vec_id, ev,
         {", ".join(f"left({_duck_table_key('ev', t, planes, _EMB_PPT)}, (SELECT k FROM bits)) AS t{t}" for t in range(_N_TABLES))}
  FROM v
),
bx AS (
  {" UNION ALL ".join(f"SELECT vec_id, {t} AS band, t{t} AS key FROM b" for t in range(_N_TABLES))}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
  FROM bx a JOIN bx c ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
),
s AS (
  SELECT id1, id2, {_duck_cos("x.ev", "y.ev")} AS cos
  FROM cand JOIN v x ON x.vec_id = id1 JOIN v y ON y.vec_id = id2
)
SELECT id1, id2, round(cos, 6) AS cos FROM s WHERE cos >= 0.35
"""


@query("dedup_embedding_cosine", oracle=_build_emb_cos_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: semantic duplicate pairs (cos ≥ 0.35
    — calibrated to this near-uniform corpus; real embedding spaces use
    ~0.9) via the same multi-table sign-LSH candidate machinery as the
    ANN queries but with dedup-tuned geometry (8 tables, key width
    adaptive in [8, 16] bits holding bucket occupancy ≤ 16, see
    ``_EMB_BASE_BITS``) — candidates only, never all-pairs, then exact
    cosine verification.  The self-join's cost is Σ|bucket|²/2, so
    occupancy (not bucket count) is the scale invariant; fixed 8-bit
    keys measured ~40 GB of spill at 200k vectors (SCALE.md r10).
    Completes the dedup family: exact, MinHash, SimHash, n-gram
    Jaccard, embedding-cosine."""
    from fletcher_spark.pipeline import similarity as SIM

    e = spread(load_tables(spark, sf_dir)["embeddings"])
    n = e.agg(F.count(F.lit(1)).alias("__n"))
    # the banded table fans out to the exploded self-join (×2) and both
    # verify sides; persist it or the interpreted hyperplane projection
    # (tables × planes × dim multiplies per vector) runs four times
    b = (
        e.select(
            "vec_id",
            F.col("embedding").alias("ev"),
            SIM.expr_cached(
                SIM.lsh_table_keys_sql("`embedding`", _emb_planes(), _EMB_PPT)
            ).alias("tkeys"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn("__bits", F.expr(_emb_bits_case("__n")))
        .persist()
    )
    # materialize the cache BEFORE the main action: AQE launches the
    # four consumer stages' independent sub-stages concurrently, and
    # branches racing an in-flight cache each recompute the tables ×
    # planes × dim hyperplane projection (r13 measured four ~equal
    # full-cost jobs; same fix as dedup_substring_exact's docs.count())
    b.count()
    # tail as parsed selectExpr batches (r14, guide §7.3 — same trees,
    # fewer py4j round-trips / eager re-analyses per construction)
    ex = b.selectExpr("vec_id", "explode(tkeys) AS bk", "__bits").selectExpr(
        "vec_id", "bk.band AS band", "substr(bk.key, 1, __bits) AS key"
    )
    a = ex.alias("a")
    c = ex.alias("c")
    cand = (
        a.join(
            c,
            F.expr("a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id"),
        )
        .selectExpr("a.vec_id AS id1", "c.vec_id AS id2")
        .distinct()
    )
    v1 = b.selectExpr(
        "vec_id AS id1", "ev AS e1", f"{SIM.l2_norm_sql('`ev`')} AS n1"
    )
    v2 = b.selectExpr(
        "vec_id AS id2", "ev AS e2", f"{SIM.l2_norm_sql('`ev`')} AS n2"
    )
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .selectExpr(
            "id1",
            "id2",
            f"({SIM.dot_sql('`e1`', '`e2`')}) / (n1 * n2) AS cos",
        )
        .filter("cos >= 0.35")
        .selectExpr("id1", "id2", "round(cos, 6) AS cos")
    )


@query("dedup_cc_clusters", oracle=_CC_ORACLE)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over verified near-dup pairs —
    the step that turns pairwise MinHash hits into dedup groups (a
    chain a~b~c must collapse to ONE representative, which pairwise
    keep-min gets wrong).

    Algorithm: operators/graph.py:connected_components — below the
    4M-edge gate a driver union-find over Arrow-collected numpy index
    arrays; above it, hash-min label propagation with pointer jumping
    (label ← label[label], O(log diameter) rounds), each round two
    shuffles over the *candidate-pair* vertex set only (orders of
    magnitude smaller than the corpus), convergence detected by a
    1-row hash-sum scalar.  The oracle replays it as a DuckDB
    transitive closure (WITH RECURSIVE) over the identical
    md5-derived edge set.
    """
    base = load_tables(spark, sf_dir)["documents"]
    d = spread(base)
    n = base.agg(F.count(F.lit(1)).alias("__n"))  # unspread: see dedup_minhash_lsh
    sh = D.shingle_frame(d, "text", 3).persist()
    # no sh.count() (r14): candidate_pairs(materialize=True) below
    # fills this cache in its own construction action — see
    # dedup_minhash_lsh
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    # same adaptive Broder banding as dedup_minhash_lsh (they share the
    # oracle CTE, so the edge set stays value-checked on both branches)
    banded = sig.crossJoin(F.broadcast(n)).select(
        "doc_id", F.expr(D.lsh_band_keys_adaptive_sql("sig", "__n")).alias("band_keys")
    )
    # materialize=True: same AQE twin-exchange miss as dedup_minhash_lsh
    pairs = D.candidate_pairs(banded, "doc_id", materialize=True)
    edges = D.verify_jaccard(pairs, sh, "doc_id", "shingles", 0.5).select("id1", "id2")
    labels = G.connected_components(edges)
    sh.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


@query(
    "dedup_passages_c4",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(list_slice(t, (i-1)*10+1, i*10), ' ') AS chunk
  FROM tok, UNNEST(range(1, CAST(ceil(len(t)/10.0) AS BIGINT)+1)) AS u(i)
),
keep AS (SELECT chunk, min(doc_id) AS keeper FROM chunks GROUP BY chunk),
kept AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk
  FROM chunks c JOIN keep k ON c.chunk = k.chunk AND c.doc_id = k.keeper
)
SELECT doc_id, count(*) AS n_kept,
       string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
FROM kept GROUP BY doc_id
""",
)
def dedup_passages_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style passage-level dedup: segment every document into
    10-token passages, drop every passage that appears earlier in the
    corpus (keep-min doc_id), reassemble the survivors in document
    order.  Documents that lose every passage disappear entirely —
    sub-document dedup, the step document-level MinHash cannot do.

    Shape at 100 TB: segmentation is a map-only explode (rows ×
    ~n_tokens/10); the keep rule is one hash aggregate keyed on the
    passage text (map-side combined; key could be md5(passage) to
    bound shuffle width); the keeper filter is a shuffle join on the
    same key AQE plans; reassembly groups back on doc_id with an
    in-group array_sort — no window over a global order anywhere."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    t = F.split("text", " ", -1)
    n_chunks = F.ceil(F.size(t) / F.lit(10.0)).cast("int")
    seg = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice(t, (i - 1) * 10 + 1, 10)).alias("chunk"),
        ),
    )
    chunks = d.select("doc_id", F.explode(seg).alias("s")).select(
        "doc_id", F.col("s.chunk_idx").alias("chunk_idx"), F.col("s.chunk").alias("chunk")
    )
    # NOT persisted (r13 wave 8 A/B): caching the segmented frame for
    # the keep/probe consumers measured 1.04 → 1.31 s warm / 1.98 →
    # 2.86 cold — the passage strings make the cache write dearer than
    # re-running the map-only segmentation explode
    keep = chunks.groupBy("chunk").agg(F.min("doc_id").alias("keeper"))
    kept = (
        chunks.join(keep, "chunk")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "chunk_idx", "chunk")
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text_dedup"),
    )


_INCR_ORACLE = (
    "WITH "
    + _MINHASH_CTES_FIXED
    + """,
batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
corpus AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(s), ' ')) AS fp
  FROM sh
),
exact_dup AS (
  SELECT b.doc_id, min(c.doc_id) AS match_id
  FROM fp b JOIN batch USING (doc_id)
  JOIN (SELECT fp.fp, fp.doc_id FROM fp JOIN corpus USING (doc_id)) c ON b.fp = c.fp
  GROUP BY b.doc_id
),
near_cand AS (
  SELECT bb.doc_id AS bid, cb.doc_id AS cid
  FROM bands bb JOIN batch ON bb.doc_id = batch.doc_id
  JOIN (SELECT bands.* FROM bands JOIN corpus ON bands.doc_id = corpus.doc_id) cb
    ON bb.band = cb.band AND bb.key = cb.key
),
near_dup AS (
  SELECT bid AS doc_id, min(cid) AS match_id
  FROM (
    SELECT DISTINCT bid, cid FROM near_cand
  ) nc
  JOIN sh s1 ON s1.doc_id = nc.bid
  JOIN sh s2 ON s2.doc_id = nc.cid
  WHERE len(list_intersect(s1.s, s2.s))::DOUBLE
        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.5
  GROUP BY bid
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
            WHEN n.doc_id IS NOT NULL THEN 'dup_near'
            ELSE 'kept' END AS status,
       COALESCE(e.match_id, n.match_id) AS match_id
FROM batch b
LEFT JOIN exact_dup e ON b.doc_id = e.doc_id
LEFT JOIN near_dup n ON b.doc_id = n.doc_id
"""
)


@query("dedup_incremental_batch", oracle=_INCR_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the production shape: a NEW BATCH
    (doc_id % 10 == 0 stands in for today's crawl) is checked against
    the EXISTING corpus without ever re-deduping the corpus against
    itself.  Exact stage: fingerprint equi-join batch→corpus
    (keep-min match).  Near stage: MinHash band keys of the batch
    joined to corpus band keys (asymmetric candidate join), exact
    Jaccard ≥ 0.5 on candidates.  Output: every batch doc with
    status kept / dup_exact / dup_near and the matched corpus doc.

    Scale: the batch side is a day's crawl (≪ corpus); both joins key
    on fingerprint/band-bucket, so corpus-side work is index-lookup
    shaped — the full-corpus self-join of dedup_minhash_lsh never
    happens.  At 100 TB the corpus band table is a bucketed, sorted,
    persisted table the daily job reuses — demonstrated end-to-end in
    tests/test_bucketing.py::test_band_index_reuse_shuffles_only_the_batch
    (one batch-side Exchange, zero corpus-side, candidate parity with
    the inline formulation).
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    sh = D.shingle_frame(d, "text", 3).persist()
    # no sh.count() (r14): the banded.count() below materializes this
    # cache through its linear signature chain in one construction
    # action — see dedup_minhash_lsh
    is_batch = F.col("doc_id") % 10 == 0

    # canonical-form fingerprint (same md5-of-sorted-shingles the
    # curation pipeline uses)
    fp = sh.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort("shingles"), " ")).alias("fp"),
    )
    fpb = fp.filter(is_batch)
    fpc = fp.filter(~is_batch)
    exact = (
        fpb.alias("b")
        .join(fpc.alias("c"), F.col("b.fp") == F.col("c.fp"))
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("match_id"))
    )

    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    # FIXED 4×3 by design: the corpus band table is a persisted,
    # bucketed index the daily job reuses (test_bucketing.py) — its
    # layout is frozen at index-build time, and both sides of the
    # batch→corpus probe must band identically.  Re-banding here is an
    # index REBUILD decision (re-project the stored 12-wide signatures
    # under the next LSH_BAND_LADDER rung — proven document-scan-free
    # in test_bucketing.py::test_band_index_rebuild_rebands_from_
    # stored_signatures), not a per-query choice.
    banded = sig.select(
        "doc_id", F.expr("explode(" + D.lsh_band_keys_sql("sig", 4, 3) + ")").alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # persist+materialize: the batch→corpus probe filters this frame on
    # OPPOSING predicates, so no exchange reuse is even possible — both
    # sides would re-run the signature chain (the same duplication
    # candidate_pairs(materialize=True) fixes for the self-join callers)
    banded = banded.persist()
    banded.count()
    cand = (
        banded.filter(is_batch)
        .alias("b")
        .join(
            banded.filter(~is_batch).alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.key") == F.col("c.key")),
        )
        .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("bid"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("cid"), F.col("shingles").alias("sh2"))
    near = (
        cand.join(s1, "bid")
        .join(s2, "cid")
        .filter(
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2"))
            >= 0.5
        )
        .groupBy(F.col("bid").alias("doc_id"))
        .agg(F.min("cid").alias("match_id"))
    )

    batch = d.filter(is_batch).select("doc_id")
    return (
        batch.join(exact.withColumnRenamed("match_id", "m_exact"), "doc_id", "left")
        .join(near.withColumnRenamed("match_id", "m_near"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("m_exact").isNotNull(), "dup_exact")
            .when(F.col("m_near").isNotNull(), "dup_near")
            .otherwise("kept")
            .alias("status"),
            F.coalesce("m_exact", "m_near").alias("match_id"),
        )
    )


#: blocks above this size re-block on the next-longer prefix (adaptive
#: block splitting, cascade 8 → 16 → 32 → full 60-char compare prefix).
#: Every non-final level's blocks are ≤ cap (≤ cap·n/2 pairs per level,
#: i.e. O(n) candidate waste); final-level blocks share the ENTIRE
#: compare prefix, so their pairs are genuine distance-0 outputs —
#: total waste is O(n·cap·levels + output), never Σ|block|² unbounded.
#: Default 64 is the measured LINEAR regime of the r7 sf0.1→sf1 cap
#: sweep (SCALE.md: cap 64 → 10.5× pairs at 10× docs ≈ linear; the
#: prior 256 sat in a 74×-pairs transition regime).  Raise it to trade
#: wall-clock for recall inside oversized 8-char blocks — the trade,
#: and the pair set's NON-MONOTONICITY in corpus size it implies, are
#: documented in SCALE.md §dedup_levenshtein_block.
_LEV_BLOCK_CAP = 64


@query(
    "dedup_levenshtein_block",
    oracle=f"""
WITH b0 AS (
  SELECT doc_id, substr(text, 1, 8) AS blk8, substr(text, 1, 16) AS blk16,
         substr(text, 1, 32) AS blk32, substr(text, 1, 60) AS pfx
  FROM documents
),
-- unconditional per-level counts: rows sharing a longer prefix share
-- every shorter one, so global counts equal the cascade's
-- filtered-cohort counts (the Spark side computes them filtered)
b1 AS (
  SELECT *,
         count(*) OVER (PARTITION BY blk8)  AS c8,
         count(*) OVER (PARTITION BY blk16) AS c16,
         count(*) OVER (PARTITION BY blk32) AS c32
  FROM b0
),
b AS (
  SELECT doc_id, pfx,
         CASE WHEN c8  <= {_LEV_BLOCK_CAP} THEN '1' || chr(31) || blk8
              WHEN c16 <= {_LEV_BLOCK_CAP} THEN '2' || chr(31) || blk16
              WHEN c32 <= {_LEV_BLOCK_CAP} THEN '3' || chr(31) || blk32
              ELSE '4' || chr(31) || pfx END AS key
  FROM b1
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS dist
FROM b a JOIN b c ON a.key = c.key AND a.doc_id < c.doc_id
WHERE levenshtein(a.pfx, c.pfx) <= 20
""",
)
def dedup_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup — the record-linkage shape for short
    fields (titles, URLs, product names) where token sketches are too
    coarse: Levenshtein over 60-char prefixes, ≤ 20 edits ⇒ near-dup
    pair.  Complements the sketch family (MinHash/SimHash measure set
    overlap; edit distance catches transposed/inserted characters in
    ORDER-sensitive strings).

    All-pairs exists only inside a prefix block (the standard blocking
    key for edit distance: distance ≥ |len_a − len_b| and dissimilar
    prefixes can't be close), so the join is a block-keyed equi-join —
    Σ|block|², never corpus².  Fixed blocking keys SATURATE as the
    corpus grows (every key's membership grows linearly, so pairs grow
    quadratically: the r7 scale probe measured 119× pairs / 80× wall at
    10× docs), so blocks over ``_LEV_BLOCK_CAP`` cascade onto longer
    prefixes (8 → 16 → 32 → the full 60-char compare prefix) —
    adaptive block splitting, the record-linkage standard.  Split keys
    are decided by in-plan per-block count windows, each level running
    only on the rows the previous level couldn't place (a sub-cap
    corpus pays for ONE window); level tags keep the key spaces
    disjoint.  Every non-final level's blocks are cap-bounded and the
    final level's blocks share the entire compare prefix (their pairs
    are genuine distance-0 outputs), so candidate waste is
    O(n·cap·levels + output) — never unbounded Σ|block|².  Recall
    inside an oversized block narrows to longer-prefix agreement — the
    documented trade: those blocks are precisely where the flat scheme
    drowns in false candidates.  Both sub-cap corpora (sf0.01/sf0.1 —
    results identical to the flat scheme) and the split branches are
    driver/test-checked.  Distances are exact integers
    (`F.levenshtein` == DuckDB `levenshtein`), so parity needs no
    rounding.  The hot loop uses Spark's 3-arg ``levenshtein(l, r,
    threshold)``: the banded DP costs O(threshold·len) per pair instead
    of O(len²) and bails out early once a row's minimum exceeds the
    band — ~3× fewer cells at threshold 20 over 60-char prefixes, and
    the win grows with prefix length.  Above-threshold pairs return −1,
    which the ≤-threshold filter drops, so the kept rows carry exactly
    the distances the oracle's full DP computes."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    b = d.select(
        "doc_id",
        F.substring("text", 1, 8).alias("blk8"),
        F.substring("text", 1, 16).alias("blk16"),
        F.substring("text", 1, 32).alias("blk32"),
        F.substring("text", 1, 60).alias("pfx"),
    )
    # Cascade decided in ONE pass: the three count windows partition on
    # NESTED prefixes (blk8 ⊇ blk16 ⊇ blk32 cohorts), so Spark's
    # ClusteredDistribution check satisfies all three from a single
    # hash(blk8) exchange — three WindowExecs, one shuffle.  Each
    # WindowExec still requires child ordering on its partition keys, so
    # the plan carries three partition-LOCAL sorts of the projection
    # (no extra exchanges; the sorts are the cascade's CPU price).
    # Nesting also makes the (blk8, blk16) count equal the global blk16
    # count, which is what the oracle's unconditional-window
    # formulation computes.
    # NULL text -> NULL key (concat propagates) -> dropped by the join.
    c8 = F.count(F.lit(1)).over(Window.partitionBy("blk8"))
    c16 = F.count(F.lit(1)).over(Window.partitionBy("blk8", "blk16"))
    c32 = F.count(F.lit(1)).over(Window.partitionBy("blk8", "blk16", "blk32"))
    cap = _LEV_BLOCK_CAP
    b = b.select(
        "doc_id",
        "pfx",
        F.when(c8 <= cap, F.concat(F.lit("1\x1f"), F.col("blk8")))
        .when(c16 <= cap, F.concat(F.lit("2\x1f"), F.col("blk16")))
        .when(c32 <= cap, F.concat(F.lit("3\x1f"), F.col("blk32")))
        # final level: the full compare prefix — uncapped, but every
        # pair inside such a block is a genuine distance-0 output
        .otherwise(F.concat(F.lit("4\x1f"), F.col("pfx")))
        .alias("blk"),
    ).persist()
    # materialize: the pair self-join references the keyed frame twice
    # (probe + broadcast build), and the scan → hash(blk8) exchange →
    # three-sort window cascade is NOT deduplicated between the twin
    # subtrees (the broadcast side wraps it in a BroadcastExchange, so
    # even the static planner can't reuse it) — uncached, the cascade
    # ran twice per run (r13 wave 8; same pattern as candidate_pairs
    # materialize=True)
    b.count()
    # A/B'd and NOT kept (r14, VERDICT r13 #6): an explicit
    # repartition("blk") of the join sides — the widen_by_key idea for
    # the AQE-coalesced banded-DP stage — regressed ~4x at BOTH scales
    # (sf0.1 isolated min-of-3: 1.04 -> 4.78 s; .tmp/sf1: 3.09 ->
    # 12.7 s; jobs 4 -> 6): the exchange re-shuffles the cached frame
    # on both sides and the widened stage buys nothing because the DP
    # compare is not the bottleneck.  AQE's byte-based coalescing
    # stands.
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(c, (F.col("a.blk") == F.col("c.blk")) & (F.col("a.doc_id") < F.col("c.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.pfx"), F.col("c.pfx"), 20).cast("long").alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 20))
    )


@query(
    "dedup_prefix_filter_join",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (
  SELECT DISTINCT doc_id, u.g AS token
  FROM w, unnest(list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i + 1])) AS u(g)
),
freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
ids AS (SELECT token, row_number() OVER (ORDER BY df, token) AS tid FROM freq),
docs AS (
  SELECT doc_id, list(tid ORDER BY tid) AS toks,
         count(*)::BIGINT AS n
  FROM tok JOIN ids USING (token) GROUP BY doc_id
),
pref AS (
  SELECT doc_id, n, u.t AS tid
  FROM docs, unnest(toks[1:(n - ((4 * n + 4) // 5) + 1)]) AS u(t)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM pref a JOIN pref b
    ON a.tid = b.tid AND a.doc_id < b.doc_id
   AND 5 * a.n >= 4 * b.n AND 5 * b.n >= 4 * a.n
),
v AS (
  SELECT id1, id2, len(list_intersect(da.toks, db.toks)) AS i,
         da.n AS na, db.n AS nb
  FROM cand
  JOIN docs da ON da.doc_id = cand.id1
  JOIN docs db ON db.doc_id = cand.id2
)
SELECT id1, id2, round(i::DOUBLE / (na + nb - i), 4) AS jaccard
FROM v WHERE i::DOUBLE / (na + nb - i) >= 0.8
""",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the SSJoin /
    PPJoin candidate-generation family) over word-BIGRAM sets (unigram
    sets are saturated on this shared-vocabulary corpus — bigrams keep
    only the planted near-duplicates above threshold): two documents
    with bigram-set Jaccard ≥ t = 0.8 must share at least one token among each side's
    first ``n − ceil(t·n) + 1`` tokens when every document orders its
    tokens by GLOBAL rarity (document frequency asc, token asc).  So
    candidates are generated by joining only on those prefix tokens —
    rare ones, by construction — instead of on every token.

    Why this matters at 100 TB: a plain token-keyed self-join explodes
    on stopwords (the "the"-bucket is corpus-sized and its bucket join
    is quadratic).  Prefix filtering is threshold-aware blocking: high
    thresholds shrink prefixes, and rarity ordering pushes the join
    keys into the long tail where buckets are tiny.  Complements the
    hash-family blockers (MinHash bands, SimHash chunks) with an EXACT
    no-false-negative filter — every qualifying pair provably shares a
    prefix token.  Prefix length uses integer arithmetic
    (``n − ((4n+4) div 5) + 1`` for t = 4/5) so both engines agree
    without float-ceil edge cases.

    Two further exactness-preserving refinements from the PPJoin paper
    (Xiao et al., WWW'08):

    * **positional filter** — a pair first meeting at 0-based prefix
      positions (pa, pb) can overlap at most ``1 + min(na − pa − 1,
      nb − pb − 1)  =  min(na − pa, nb − pb)`` tokens; requiring that
      bound ≥ ``ceil(t/(1+t)·(na+nb))`` (the overlap a Jaccard ≥ t
      pair must have) prunes candidates the plain prefix filter
      keeps.  At t = 4/5 the bound subsumes the SSJoin length filter
      (at pa = pb = 0 it reduces to ``5·min(na,nb) ≥ 4·max(na,nb)``),
      and both are integer-pure.
    * **distributed rarity ranking** — tid assignment partitions by
      ``(df, salt)`` (rank within each cell is an ordinary keyed
      window; the 64-way salt keeps even the hapax df=1 class — about
      half of a Zipfian vocabulary — off any single task) and adds
      cumulative offsets from the (df × salt) histogram, so no
      vocabulary-sized single-task sort exists anywhere.  Any
      consistent total order yields the same final pairs — rarity
      order is a candidate-count optimization, and ties within a df
      class are equally rare — so the DuckDB oracle's simpler global
      sort stays output-identical.

    The bigram identity carried through the df aggregate and the tid
    join is an ``xxhash64`` LONG, never the ~20-byte bigram string:
    hashing happens inside the per-doc transform (before the
    array_distinct and the explode), so the two token-keyed shuffles
    move 8-byte keys (r10 interleaved min-of-3 A/B at the 10× tier:
    41.6 → 13.1 s under co-tenant load, identical pair output; the
    same content-addressed-key trade as text_boilerplate_ratio, ~7e-5
    expected collisions at 50 M distinct bigrams).  The within-class
    rank orders by the hash — a consistent total order, which per the
    paragraph above is all the prefix filter needs.

    Shape: token-hash explode → hash-agg df → distributed rarity rank
    → prefix posexplode → bucketed pair join with positional bound →
    array-intersect verify on surviving candidates only."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    # split once into its own projection: inlined under the Generate the
    # optimizer re-evaluates split(text) four times per row (2 slices +
    # 2 sizes)
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    ws = F.col("ws")
    grams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tok = w.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
        ).alias("token"),
    ).persist()  # used twice: document frequency AND the doc-set build
    # materialize: the doc-set join's tok-side map stage is independent
    # of the freq->ids chain inside the same job and races the cache (r13)
    tok.count()
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # token -> dense int id in RARITY order (df asc, then arbitrary
    # within a df class — equal-df tokens are equally rare, so any
    # within-class order is an equally good prefix order, and the final
    # pair set is order-independent regardless).  Distributed
    # assignment: rank within each (df, salt) cell — the salt shards
    # the window so even the hapax (df=1) class, which is ~half of a
    # Zipfian vocabulary and would otherwise still funnel through one
    # window task, splits 64 ways — then add the running count of all
    # earlier cells.  The cumsum runs over the (df × salt) HISTOGRAM
    # (≤ 64 rows per distinct df value), never the vocabulary itself.
    _NSALT = 64
    salted = freq.withColumn("salt", F.pmod(F.xxhash64("token"), F.lit(_NSALT)))
    hist = salted.groupBy("df", "salt").agg(F.count(F.lit(1)).alias("cnt"))
    offs = hist.select(
        "df",
        "salt",
        (
            F.sum("cnt").over(
                Window.orderBy("df", "salt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("off"),
    ).fillna(0, ["off"])
    ids = (
        salted.join(F.broadcast(offs), ["df", "salt"])
        .select(
            "token",
            (
                F.col("off")
                + F.row_number().over(
                    Window.partitionBy("df", "salt").orderBy("token")
                )
            ).alias("tid"),
        )
    )
    docs = (
        tok.join(ids, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("tid")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
        .persist()
    )
    # materialize the doc-set cache before the pair job: it feeds three
    # branches (both prefix sides + verify), and branches racing an
    # in-flight cache each recompute the tokenize subtree
    docs.count()
    plen = (F.col("n") - F.expr("(4 * n + 4) div 5") + 1).cast("int")
    pref = docs.select(
        "doc_id",
        "n",
        F.posexplode(F.slice(F.col("toks"), F.lit(1), plen)).alias("p", "tid"),
    )
    # positional filter (PPJoin): a pair meeting at 0-based prefix
    # positions (pa, pb) overlaps at most 1 + min(na-pa-1, nb-pb-1)
    # tokens beyond nothing — i.e. min(na - pa, nb - pb) counting the
    # shared one — and Jaccard >= 4/5 forces overlap >=
    # ceil((4/9)(na+nb)) = (4(na+nb)+8) div 9.  Integer-pure on both
    # sides; at pa = pb = 0 it reduces to the SSJoin size filter
    # 5*min(na,nb) >= 4*max(na,nb), so no separate size predicate is
    # needed.
    ub = F.least(F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p"))
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "tid")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (9 * ub >= 4 * (F.col("a.n") + F.col("b.n")))
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    from fletcher_spark.io import widen_by_key

    # verify is per-row set-intersection compute on byte-small rows —
    # exactly the stage widen_by_key exists for
    cand = widen_by_key(cand, "id1", "id2")
    da = docs.select(
        F.col("doc_id").alias("id1"), F.col("toks").alias("ta"), F.col("n").alias("na")
    )
    db = docs.select(
        F.col("doc_id").alias("id2"), F.col("toks").alias("tb"), F.col("n").alias("nb")
    )
    # |A∪B| = |A| + |B| - |A∩B|: one sorted-int intersect per pair, no
    # union array ever built — the verify stage is the hot loop here
    pairs = (
        cand.join(da, "id1")
        .join(db, "id2")
        .select(
            "id1",
            "id2",
            "na",
            "nb",
            F.size(F.array_intersect("ta", "tb")).alias("i"),
        )
    )
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        pairs.withColumn("j", j)
        .filter(F.col("j") >= 0.8)
        .select("id1", "id2", F.round("j", 4).alias("jaccard"))
    )


#: exact-substring dedup window, in tokens.  Lee et al. (2022,
#: "Deduplicating Training Data Makes Language Models Better") use 50
#: BPE tokens over web-scale corpora; the synthetic docs run 10–99
#: whitespace tokens, so 8 keeps the span/doc ratio comparable.
_SUBSTR_K = 8


@query(
    "dedup_substring_exact",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id,
             unnest(range(1, greatest(len(toks) - {_SUBSTR_K - 1}, 0) + 1)) AS pos,
             toks
      FROM tok),
h AS (SELECT doc_id, pos,
             md5(array_to_string(list_slice(toks, pos, pos + {_SUBSTR_K - 1}), ' ')) AS gram
      FROM g),
mk AS (SELECT doc_id, pos FROM (
   SELECT doc_id, pos,
          count(*) OVER (PARTITION BY gram) AS c,
          row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
   FROM h) WHERE c >= 2 AND rn > 1),
w AS (SELECT doc_id, pos,
         max(pos + {_SUBSTR_K - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM mk),
isl AS (SELECT doc_id, pos,
         sum(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM w),
sp AS (SELECT doc_id, island, min(pos) AS a, max(pos) + {_SUBSTR_K - 1} AS b
       FROM isl GROUP BY 1, 2),
iv AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
              sum(b - a + 1)::BIGINT AS n_dup_tokens,
              list([a, b] ORDER BY a) AS ivs
       FROM sp GROUP BY doc_id)
SELECT t.doc_id,
       len(toks)::BIGINT AS n_tokens,
       CASE WHEN t.toks IS NULL THEN NULL
            ELSE coalesce(iv.n_spans, 0) END::BIGINT AS n_spans,
       CASE WHEN t.toks IS NULL THEN NULL
            ELSE coalesce(iv.n_dup_tokens, 0) END::BIGINT AS n_dup_tokens,
       CASE WHEN t.toks IS NULL THEN NULL
            ELSE coalesce(array_to_string(
         list_transform(
           list_filter(range(1, len(toks) + 1),
             i -> len(list_filter(coalesce(iv.ivs, []),
                                  v -> v[1] <= i AND i <= v[2])) = 0),
           i -> toks[i]), ' '), '') END AS text_clean
FROM tok t LEFT JOIN iv USING (doc_id)
""",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUBSTRING dedup (Lee et al. 2022): remove every duplicated
    ≥K-token span at ARBITRARY offsets, not just whole docs or fixed
    passage boundaries — the strongest exact method in the training-data
    literature, and the gap left by ``dedup_exact`` (whole-key) and
    ``dedup_passages_c4`` (non-overlapping chunks).  Stride-1 K-token
    grams are hashed; a gram occurring ≥2 times corpus-wide keeps only
    its canonical first occurrence (min ``(doc_id, pos)``); every other
    occurrence's ``[pos, pos+K-1]`` span is marked, overlapping/adjacent
    spans merge per doc, and the covered tokens are cut from the text.
    Output per doc: token counts before/removed, merged span count, and
    the cleaned text (token accounting: ``n_tokens - n_dup_tokens ==
    len(split(text_clean))``, pinned in tests/test_dedup_substring.py).

    Scale: the gram table is n_tokens rows/doc (stride 1) but only two
    narrow columns wide after the map-only hash.  Duplicate detection is
    a gram-keyed HashAggregate (partial/final, shuffle = |distinct
    grams|) joined back on the same gram key — NOT a corpus-wide rank
    window; the canonical-occurrence rule rides the aggregate as
    ``min(struct(doc_id, pos))``.  Span merge + reconstruction shuffle
    by doc_id only (windows partition on doc_id: high-cardinality,
    never a funnel).  At crawl scale the join-back is pre-filtered by
    a broadcast Bloom bitmap of duplicated grams (8 MB cap) so
    singleton occurrences (~95 % of a fresh corpus) die map-side
    instead of shuffling — the petabyte refinement, implemented and
    COST-GATED on the optimizer's input-size estimate
    (``bloom_bits="auto"``: on above 1 GiB, off below, where the
    bitmap's extra aggregate pass outweighs the saved shuffle — the
    InjectRuntimeFilter pattern); the suffix-array
    pass of the paper is a single-machine algorithm — this is its
    shuffle-native re-expression.

    Reference analog: none (fletcher has no corpus ops); the C4/passage
    variants live at queries/llmprep.py and this file.  DuckDB oracle
    replays the same md5 gram family bit-for-bit, expressing the
    canonical-first rule as a rank window (oracle clarity over oracle
    speed) and the token cut as nested list lambdas."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    return D.substring_dedup(d, "doc_id", "text", _SUBSTR_K)
