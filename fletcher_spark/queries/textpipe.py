"""Text-analysis queries over ``documents`` (LLM-pipeline extensions):
per-doc statistics, quality scores, language-ID heuristic, n-gram
corpus counts, content fingerprints — all DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.pipeline import dedup as _D
from fletcher_spark.pipeline import textpipe as T
from fletcher_spark.queries.registry import query


@query(
    "text_stats",
    oracle="""
WITH t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents)
SELECT
  doc_id,
  CAST(len(toks) AS INT)                          AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT)           AS n_types,
  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr,
  round(list_reduce(list_transform(toks, x -> length(x)::BIGINT), (a,b) -> a+b)::DOUBLE
        / len(toks), 4)                           AS avg_word_len,
  CAST(strlen(text) AS INT)                       AS n_bytes,
  CAST(ceil(strlen(text) / 4.0) AS BIGINT)        AS bpe_est
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/type counts, type-token ratio, mean word length,
    byte length, and the bytes/4 BPE-token estimate — all left-folds
    over the token array, map-only (the 100 TB plan is scan→project)."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = T.tokens("text")
    t = d.select("doc_id", "text", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_types"),
        F.round(T.type_token_ratio(F.col("toks")), 4).alias("ttr"),
        F.round(T.avg_token_len(F.col("toks")), 4).alias("avg_word_len"),
        F.octet_length("text").alias("n_bytes"),
        F.ceil(F.octet_length("text") / 4.0).alias("bpe_est"),
    )


@query(
    "text_quality",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
m AS (
  SELECT doc_id,
    least(len(toks) / 50.0, 1.0) AS len_term,
    len(list_distinct(toks))::DOUBLE / len(toks) AS ttr_term,
    least(len(list_filter(toks, x -> list_contains(['the','a','of','and'], x)))::DOUBLE
          / len(toks) * 5, 1.0) AS sw_term,
    CASE WHEN list_reduce(list_transform(toks, x -> length(x)::BIGINT), (a,b)->a+b)::DOUBLE
              / len(toks) BETWEEN 3 AND 8 THEN 1.0 ELSE 0.0 END AS wl_term
  FROM t
)
SELECT doc_id, round((len_term + ttr_term + sw_term + wl_term) / 4, 4) AS quality
FROM m
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training quality filter (length, lexical diversity,
    stopword presence, word-length sanity) — pipeline/textpipe.py:
    quality_score; the shape every curation pipeline runs first."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select("doc_id", T.quality_score("text").alias("quality"))


@query(
    "text_langid",
    oracle="""
WITH t AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
    round(len(list_filter(toks, x -> list_contains(['the','a','of','and'], x)))::DOUBLE / len(toks), 4) AS s_en,
    round(len(list_filter(toks, x -> list_contains(['der','die','und','das'], x)))::DOUBLE / len(toks), 4) AS s_de,
    round(len(list_filter(toks, x -> list_contains(['el','la','de','y'], x)))::DOUBLE / len(toks), 4) AS s_es
  FROM t
)
SELECT doc_id, lang, s_en, s_de, s_es,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0.01 THEN 'en'
            WHEN s_de >= s_es AND s_de > 0.01 THEN 'de'
            WHEN s_es > 0.01 THEN 'es'
            ELSE 'unk' END AS pred
FROM s
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic: one score column per
    language + deterministic argmax-with-floor.  The mechanism (score
    columns → argmax) is what a fastText-style model slots into; on
    this vocab-shared synthetic corpus 'en' dominates by construction."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "lang", T.tokens("text").alias("toks"))
    scores = T.langid_scores(F.col("toks"))
    s = t.select(
        "doc_id",
        "lang",
        F.round(scores["en"], 4).alias("s_en"),
        F.round(scores["de"], 4).alias("s_de"),
        F.round(scores["es"], 4).alias("s_es"),
    )
    pred = (
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") > 0.01), "en")
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") > 0.01), "de")
        .when(F.col("s_es") > 0.01, "es")
        .otherwise("unk")
    )
    return s.withColumn("pred", pred)


@query(
    "text_ngrams_top",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram, count(*) AS n
FROM g GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 10
""",
)
def text_ngrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-10 word bigrams: per-doc n-grams (map-only) →
    explode → partial+final count aggregate → TakeOrderedAndProject.
    The one intentional shuffle in the text pipeline, keyed on the
    n-gram (map-side combine bounds it by distinct-gram count)."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    # token split materialized before the gram lambda (see
    # contamination_ngram_overlap for the measured re-eval cost)
    t = d.select(T.tokens("text").alias("toks"))
    g = t.select(F.explode(T.ngrams(F.col("toks"), 2)).alias("bigram"))
    return (
        g.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(10)
    )


@query(
    "text_fingerprint",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
       substr(md5(array_to_string(list_sort(list_distinct(toks)), ' ')), 1, 8) AS fp_short
FROM t
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 over sorted distinct
    tokens) + 32-bit short form — the canonical-form dedup key
    (pipeline/textpipe.py:fingerprint)."""
    d = load_tables(spark, sf_dir)["documents"]
    fp = T.fingerprint(T.tokens("text"))
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_short")
    )


@query(
    "pipeline_curate_corpus",
    oracle="""
WITH t AS (
  SELECT doc_id, text, lang, string_split_regex(text, '\\s+') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, text, lang, toks,
    (least(len(toks) / 50.0, 1.0)
     + len(list_distinct(toks))::DOUBLE / len(toks)
     + least(len(list_filter(toks, x -> list_contains(['the','a','of','and'], x)))::DOUBLE
             / len(toks) * 5, 1.0)
     + CASE WHEN list_reduce(list_transform(toks, x -> length(x)::BIGINT), (a,b)->a+b)::DOUBLE
                 / len(toks) BETWEEN 3 AND 8 THEN 1.0 ELSE 0.0 END) / 4 AS quality
  FROM t
),
kept AS (SELECT * FROM scored WHERE quality >= 0.5),
-- exact dedup on the canonical-form fingerprint, keep-min
fp AS (
  SELECT *, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM kept
),
keepers AS (
  SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp
),
exact_kept AS (
  SELECT f.* FROM fp f JOIN keepers k ON f.fp = k.fp AND f.doc_id = k.keep_id
),
-- near-dup removal: drop the higher doc_id of every minhash-LSH pair
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [array_to_string(toks, ' ')] END) AS s
  FROM exact_kept
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
nn AS (SELECT {rpb_case} AS rpb FROM exact_kept),
bands AS (
  SELECT doc_id, b.band AS band,
         md5(array_to_string(list_transform(list_slice(sg, b.band*nn.rpb + 1, (b.band+1)*nn.rpb), x -> x::VARCHAR), '|')) AS key
  FROM sig, nn, (SELECT unnest([0,1,2,3]) AS band) b
  WHERE b.band < 12 // nn.rpb
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
  FROM bands a
  JOIN bands b2 ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
),
near_dupes AS (
  SELECT DISTINCT id2 AS doc_id
  FROM cand
  JOIN sh s1 ON s1.doc_id = id1
  JOIN sh s2 ON s2.doc_id = id2
  WHERE len(list_intersect(s1.s, s2.s))::DOUBLE
        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.5
)
SELECT e.doc_id, e.lang, round(e.quality, 4) AS quality, e.fp
FROM exact_kept e
LEFT JOIN near_dupes nd ON e.doc_id = nd.doc_id
WHERE nd.doc_id IS NULL
""".format(
        minhashes=",\n    ".join(
            "list_min(list_transform(range(1, len(s) + 1), "
            f"i -> (v1[i] + {j} * v2[i]) % 2305843009213693951))"
            for j in range(12)
        ),
        # adaptive Broder banding over the post-exact-dedup survivor
        # count — the set actually being banded (see queries/dedup.py)
        rpb_case=_D.lsh_rpb_case_sql("count(*)"),
    ),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed Catalyst plan — the
    flagship LLM-data query: quality filter (≥0.5) → exact dedup on the
    canonical fingerprint (keep-min) → MinHash-LSH near-dup removal
    (drop the higher doc_id of each verified J≥0.5 pair) → curated
    (doc_id, lang, quality, fingerprint).

    Composes pipeline/textpipe.py and pipeline/dedup.py unchanged —
    each stage is a DataFrame-in/DataFrame-out transformation, so the
    optimizer sees the whole pipeline (quality filter pushes below
    shingling; only survivors are sketched).  Shuffles: fingerprint
    group, minhash aggregate, band bucket join, anti join — each keyed,
    each map-side combined where algebraic.
    """
    from fletcher_spark.pipeline import dedup as D

    d = spread(load_tables(spark, sf_dir)["documents"])
    toks = T.tokens("text")

    kept = d.select(
        "doc_id", "text", "lang", T.quality_score("text").alias("quality")
    ).filter(F.col("quality") >= 0.5)

    fp = kept.withColumn("fp", T.fingerprint(T.tokens("text")))
    keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id")).alias("k")
    fpa = fp.alias("f")
    # exact_kept feeds shingling AND the final anti-join, and sh feeds
    # the signature AND both verify sides: persist both or the
    # quality→fingerprint→keep-min sub-DAG re-executes per consumer
    # (~5× measured at sf0.1)
    exact_kept = fpa.join(
        keepers,
        (F.col("f.fp") == F.col("k.fp")) & (F.col("f.doc_id") == F.col("k.keep_id")),
    ).select(
        F.col("f.doc_id").alias("doc_id"),
        F.col("f.text").alias("text"),
        F.col("f.lang").alias("lang"),
        F.col("f.quality").alias("quality"),
        F.col("f.fp").alias("fp"),
    ).persist()

    sh = D.shingle_frame(exact_kept, "text", 3).persist()
    # no sh.count() (r14): candidate_pairs(materialize=True) below
    # fills BOTH caches (its exploded-key plan is a linear chain over
    # sh over exact_kept) in one construction action — see
    # dedup_minhash_lsh
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    # adaptive Broder banding keyed on the SURVIVOR count (the banded
    # set), read off the persisted exact_kept — a one-row broadcast
    nk = exact_kept.agg(F.count(F.lit(1)).alias("__n"))
    banded = sig.crossJoin(F.broadcast(nk)).select(
        "doc_id", F.expr(D.lsh_band_keys_adaptive_sql("sig", "__n")).alias("band_keys")
    )
    # materialize=True: same AQE twin-exchange miss as dedup_minhash_lsh
    pairs = D.candidate_pairs(banded, "doc_id", materialize=True)
    near = D.verify_jaccard(pairs, sh, "doc_id", "shingles", 0.5)
    dupes = near.select(F.col("id2").alias("doc_id")).distinct()

    return exact_kept.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", F.round("quality", 4).alias("quality"), "fp"
    )


#: ASCII BPE-ish pre-tokenizer (GPT-2 shape without lookahead, so the
#: identical pattern runs in Java regex AND DuckDB's RE2): a token is
#: an optionally-space-prefixed letter run, digit run, or punctuation
#: run.  Real BPE merges happen inside these pre-token boundaries, so
#: the match count is the standard fast token-count estimate.
_BPE_PAT = r" ?[0-9]+| ?[a-zA-Z]+| ?[^ 0-9a-zA-Z]+"


@query(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
  CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)        AS n_ws,
  CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)  AS n_bpe,
  CAST(ceil(strlen(text) / 4.0) AS BIGINT)                     AS n_bytes4,
  round(strlen(text)::DOUBLE
        / len(regexp_extract_all(text, '{_BPE_PAT}')), 4)      AS chars_per_tok
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (builder brief: whitespace + BPE-ish
    regex + bytes/4): all are scan-stage expressions — the cheap
    pre-pass every training-data budget estimate runs before committing
    to real tokenization.  ``regexp_count`` keeps the regex in the JVM;
    the pattern is lookahead-free so the oracle runs it verbatim."""
    d = load_tables(spark, sf_dir)["documents"]
    n_bpe = F.regexp_count("text", F.lit(_BPE_PAT))
    return d.select(
        "doc_id",
        F.size(T.tokens("text")).cast("long").alias("n_ws"),
        n_bpe.cast("long").alias("n_bpe"),
        F.ceil(F.octet_length("text") / 4.0).alias("n_bytes4"),
        F.round(F.octet_length("text") / n_bpe, 4).alias("chars_per_tok"),
    )


@query(
    "text_repetition",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t WHERE len(toks) >= 2
),
c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
p AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n_bg FROM c GROUP BY doc_id),
tg AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END AS g
  FROM t
)
SELECT tg.doc_id,
  round(p.max_c::DOUBLE / p.n_bg, 4) AS top_bigram_share,
  CASE WHEN len(tg.g) > 0
    THEN round(1 - len(list_distinct(tg.g))::DOUBLE / len(tg.g), 4)
    ELSE 0.0 END AS dup_trigram_frac
FROM tg JOIN p ON tg.doc_id = p.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: share of the doc's bigrams taken
    by its single most-frequent bigram, and fraction of duplicated
    trigrams.  Both statistics are per-doc, so BOTH run as in-array
    expressions — the bigram mode via ``T.array_mode_count`` (sort +
    run-length fold inside the row) — making the whole query map-only:
    no explode, no shuffle, no join.  The r10 100× probe measured the
    previous explode → groupBy(doc, bigram) → groupBy(doc) form at
    50.8 s on 500 k docs (a ~100 M-row shuffle for values that never
    leave their row).

    Evaluation is STAGED: tokens, bigrams, and trigrams are each
    materialized once through projection boundaries, and the n-gram
    counts come arithmetically from the token count (|bg| = n-1,
    |tg| = n-2) instead of re-referencing the arrays — higher-order
    array expressions are re-evaluated per reference (no codegen
    subexpression elimination), and the naive one-select form paid
    ~2× for it (36.9 s vs 18.2 s at the 100× probe, before the
    zip_with n-gram builder took it lower still)."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    t = d.select("doc_id", T.tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    staged = t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        T.ngrams(F.col("toks"), 2).alias("bg"),
        T.ngrams(F.col("toks"), 3).alias("tg"),
    )
    return staged.select(
        "doc_id",
        F.round(T.array_mode_count(F.col("bg")) / (F.col("n_toks") - 1), 4).alias(
            "top_bigram_share"
        ),
        F.when(
            F.col("n_toks") >= 3,
            F.round(1 - F.size(F.array_distinct("tg")) / (F.col("n_toks") - 2), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


@query(
    "text_vocab_idf",
    oracle="""
WITH t AS (SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS toks FROM documents),
d AS (SELECT doc_id, unnest(toks) AS tok FROM t),
f AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
n AS (SELECT count(*) AS nd FROM documents)
SELECT tok, df, round(ln(nd::DOUBLE / df), 6) AS idf
FROM f, n
ORDER BY df DESC, tok
LIMIT 20
""",
)
def text_vocab_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: document frequency and IDF for the
    20 most common tokens.  Distinct-per-doc explode → token-keyed
    count (map-side combined, bounded by |vocab|), corpus size joined
    in as a broadcast 1-row aggregate (no driver collect), top-k via
    TakeOrderedAndProject.  The building block for tf-idf scoring and
    stopword discovery over a 100 TB corpus."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    dtok = d.select("doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("tok"))
    ndocs = d.agg(F.count(F.lit(1)).alias("nd"))
    return (
        dtok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(ndocs))
        .select("tok", "df", F.round(F.log(F.col("nd") / F.col("df")), 6).alias("idf"))
        .orderBy(F.desc("df"), "tok")
        .limit(20)
    )


@query(
    "split_train_holdout",
    oracle="""
SELECT
  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
  count(*)                 AS n_docs,
  round(avg(n_chars), 4)   AS avg_chars,
  min(doc_id)              AS min_id
FROM (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
  FROM documents)
GROUP BY split
""",
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content-stable
    hash: bucket = first-8-hex-of-md5(doc_id) mod 100.  The property a
    training pipeline needs is that assignment survives resharding,
    engine changes, and incremental appends — md5 of the key gives
    bit-identical buckets in Spark and DuckDB (the oracle checks the
    actual membership via per-split counts/min-id, not just sizes).
    Map-only + one small aggregate; at 100 TB the split column is a
    pure projection feeding a partitioned write, no shuffle of the
    corpus itself."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


@query(
    "sample_stratified_hash",
    oracle="""
WITH rates AS (
  SELECT * FROM (VALUES ('en', 250), ('zh', 600), ('es', 600),
                        ('de', 600), ('fr', 600)) AS t(lang, permille)
),
kept AS (
  SELECT d.doc_id, d.lang, d.n_chars
  FROM documents d
  JOIN rates r USING (lang)
  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 25, 8))::BIGINT % 1000
        < r.permille
)
SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id,
       round(avg(n_chars), 4) AS avg_chars
FROM kept GROUP BY lang
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified downsampling — the corpus-rebalancing
    op (e.g. cap English at 25% while keeping low-resource languages):
    keep a row iff hash(doc_id) mod 1000 < the stratum's permille
    rate.  Unlike ``df.sampleBy`` (RNG per task ⇒ resample on every
    reshard/retry) the hash predicate is a pure projection —
    deterministic across engines, partitionings, and reruns, which is
    what makes training corpora auditable.  The rate table is a
    broadcast join; the filter is map-only; at 100 TB nothing
    shuffles except the final small per-stratum audit aggregate.
    No ``spread()`` here: the stage is a cheap filter+agg, and the
    extra round-robin Exchange cost more than the parallelism bought
    (r3 bench regression 0.59→1.31 s) — reserve spread for
    per-row-compute-heavy stages per its docstring (io.py)."""
    d = load_tables(spark, sf_dir)["documents"]
    rates = F.broadcast(
        d.sparkSession.createDataFrame(
            [("en", 250), ("zh", 600), ("es", 600), ("de", 600), ("fr", 600)],
            "lang string, permille long",
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10)
        .cast("long")
        % 1000
    )
    return (
        d.join(rates, "lang")
        .filter(bucket < F.col("permille"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@query(
    "pack_training_sequences",
    oracle="""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS offs
  FROM t
),
packs AS (
  SELECT shard, coalesce(offs, 0) // 2048 AS pack_id, n_tokens
  FROM o
)
SELECT shard, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM packs GROUP BY shard, pack_id
""",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a stable
    order and cut every 2048 tokens; each document's pack is
    floor(its-start-offset / 2048).  Offsets are prefix sums of token
    counts — windowed WITHIN a hash shard (doc_id % 8), never over a
    global order: shards pack independently in parallel, which is how
    a 100 TB corpus becomes training sequences without a
    single-partition sort (each shard's window is one shuffle keyed
    on the shard).  Output audits docs/tokens per (shard, pack)."""
    from pyspark.sql import Window

    d = spread(load_tables(spark, sf_dir)["documents"])
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        t.withColumn("pack_id", F.floor(offs / 2048))
        .groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )


@query(
    "text_pii_redact",
    oracle=r"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)         AS n_ipv4,
  CAST(len(regexp_extract_all(text, '\d{9,}')) AS BIGINT)                                          AS n_idnum,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        '\d{9,}', '<NUM>', 'g')) AS redacted_md5
FROM documents
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the compliance pass every training corpus runs:
    count and redact emails / IPv4s / long id-number runs with a fixed
    regex battery (pipeline/textpipe.py:PII_PATTERNS, the RE2∩Java
    common subset so the identical literals run in the oracle).

    Map-only scan→project, one codegen regexp chain — at 100 TB this
    is embarrassingly parallel and I/O-bound.  The synthetic corpus is
    PII-free, which the md5-of-redacted-text comparison turns into a
    real assertion: the battery must pass clean text through
    BYTE-IDENTICAL (false positives on clean text are corpus damage —
    the costlier failure mode at scale).  Planted-PII semantics are
    pinned in tests/test_textpipe_pii.py.
    """
    d = load_tables(spark, sf_dir)["documents"]
    counts = T.pii_counts("text")
    return d.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["idnum"].alias("n_idnum"),
        F.md5(T.redact_pii("text")).alias("redacted_md5"),
    )


@query(
    "contamination_ngram_overlap",
    oracle="""
WITH tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 6),
                       i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS grams
  FROM tok WHERE len(toks) >= 8
),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
hits AS (
  SELECT t.doc_id, count(*) AS n_overlap
  FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
  JOIN bench USING (gram)
  GROUP BY t.doc_id
)
SELECT train.doc_id,
       CAST(len(train.grams) AS BIGINT)      AS n_grams,
       CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(hits.n_overlap, 0)::DOUBLE / len(train.grams), 4) AS contamination
FROM train LEFT JOIN hits USING (doc_id)
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check — the decontamination op every
    training pipeline runs before release: per training document, the
    fraction of its word 8-grams that also occur in the held-out
    benchmark set (here: doc_id % 97 == 0 stands in for the eval
    suite).

    Scale: the benchmark side is eval-suite-sized (thousands of docs,
    not billions), so its distinct-gram set is BROADCAST; the training
    side is explode → broadcast-hash semi-ish join → partial-agg count
    — the corpus is read once, map-only except the per-doc count.  A
    real pipeline feeds the output straight into a `contamination <
    threshold` filter.
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    # three perf rules, all measured at sf0.1: (1) materialize the token
    # split in its own projection — inlined, the interpreted transform
    # re-runs the regex split per gram position (4×); (2) filter on the
    # CHEAP predicate size(toks) >= 8, not size(grams) > 0 — the latter
    # gets predicate-pushed below the spread() Exchange and drags the
    # whole gram construction into the serial scan stage (the pushdown
    # backfire: same rows, 10× cost); (3) grams feed three consumers
    # (benchmark set, overlap join, per-doc totals) — persist once
    t = d.select("doc_id", T.tokens("text").alias("toks")).filter(
        F.size(F.col("toks")) >= 8
    )
    g = t.select(
        "doc_id",
        F.array_distinct(T.ngrams(F.col("toks"), 8)).alias("grams"),
    ).persist()
    bench = (
        g.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = g.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_grams"), 4
            ).alias("contamination"),
        )
    )


@query(
    "corpus_mix_plan",
    oracle="""
WITH per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_tokens,
       round(min(n_tokens) OVER ()::DOUBLE / n_tokens, 4) AS sample_rate
FROM per
""",
)
def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix budgeting: per-language token totals and the
    sampling rate that equalizes the mix to the smallest language's
    token budget — the data-mixing planning step of a multilingual
    pretraining run.

    Scale: one partial+final hash-agg over |langs| keys (map-side
    combine reduces the shuffle to k rows per partition); the window
    runs over the k aggregated rows, never the corpus.
    """
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens("text"))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.min("n_tokens").over(w) / F.col("n_tokens"), 4).alias("sample_rate"),
    )


@query(
    "text_chunk_windows",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
c AS (
  SELECT doc_id, len(toks) AS n_toks,
         unnest(range(0, greatest((len(toks) - 32 + 24 - 1) // 24, 0) + 1)) AS win
  FROM t
),
w AS (
  SELECT c.doc_id, c.win,
         list_slice(t.toks, c.win * 24 + 1, c.win * 24 + 32) AS chunk_toks
  FROM c JOIN t USING (doc_id)
)
SELECT doc_id,
       CAST(win AS BIGINT)                       AS chunk_idx,
       CAST(win * 24 AS BIGINT)                  AS tok_offset,
       CAST(len(chunk_toks) AS BIGINT)           AS n_tokens,
       md5(array_to_string(chunk_toks, ' '))     AS chunk_md5
FROM w WHERE len(chunk_toks) > 0
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: overlapping 32-token windows with stride 24
    (8-token overlap), one output row per chunk carrying provenance
    (doc_id, chunk index, token offset) and the chunk content hash.

    Scale: map-only explode — windows are generated per row from the
    materialized token array and never shuffled; at 100 TB the output
    streams straight to the embedding stage.  Window count per doc is
    ceil((n-size)/stride)+1, so short docs yield exactly one chunk.
    """
    size, stride = 32, 24
    d = spread(load_tables(spark, sf_dir)["documents"])
    t = d.select("doc_id", T.tokens("text").alias("toks"))
    n = F.size("toks")
    n_win = F.greatest(
        F.ceil((n - F.lit(size)) / F.lit(stride)).cast("long"), F.lit(0)
    ) + F.lit(1)
    wins = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_win - 1)).alias("win"),
    )
    chunk = F.slice(F.col("toks"), F.col("win") * stride + 1, size)
    return (
        wins.select(
            "doc_id",
            F.col("win").cast("long").alias("chunk_idx"),
            (F.col("win") * stride).cast("long").alias("tok_offset"),
            chunk.alias("chunk_toks"),
        )
        .filter(F.size("chunk_toks") > 0)
        .select(
            "doc_id",
            "chunk_idx",
            "tok_offset",
            F.size("chunk_toks").cast("long").alias("n_tokens"),
            F.md5(F.array_join("chunk_toks", " ")).alias("chunk_md5"),
        )
    )


@query(
    "text_unigram_logprob",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
freq AS (SELECT w, count(*)::DOUBLE AS n FROM tok GROUP BY w),
total AS (SELECT sum(n) AS z FROM freq),
scored AS (
  SELECT tok.doc_id, -ln(freq.n / total.z) AS nll
  FROM tok JOIN freq USING (w), total
)
SELECT doc_id, round(avg(nll), 4) AS mean_nll, count(*)::BIGINT AS n_tokens
FROM scored GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality proxy (CCNet-style): corpus unigram
    frequencies → per-doc mean negative log-probability.  High mean-NLL
    docs are off-distribution (gibberish, rare-token soup) — the
    model-free stand-in for a perplexity filter.

    Scale: one token-keyed count aggregate builds the LM (vocab-sized,
    map-side combined); scoring joins tokens to the frequency table —
    vocab tables up to millions of rows broadcast (AQE decides here);
    per-doc reduction is the second aggregate.  Two shuffles total,
    both on natural keys.
    """
    d = spread(load_tables(spark, sf_dir)["documents"])
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("n"))
    total = freq.agg(F.sum("n").alias("z"))
    scored = (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .withColumn("nll", -F.log(F.col("n") / F.col("z")))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("nll"), 4).alias("mean_nll"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query(
    "batch_by_length",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, n_tokens // 16 AS bucket,
         row_number() OVER (PARTITION BY n_tokens // 16
                            ORDER BY n_tokens, doc_id) - 1 AS rn
  FROM t
),
a AS (SELECT bucket, rn // 32 AS batch_in_bucket, doc_id, n_tokens FROM b)
SELECT bucket, CAST(batch_in_bucket AS BIGINT) AS batch_in_bucket,
       count(*)::BIGINT AS batch_size,
       CAST(max(n_tokens) AS BIGINT) AS max_len,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(1.0 - sum(n_tokens)::DOUBLE / (max(n_tokens) * count(*)), 4) AS pad_frac
FROM a GROUP BY bucket, batch_in_bucket
""",
)
def batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching — the padding-efficiency prep every
    batched trainer/inference server runs: docs are bucketed by token
    count (width 16), ordered within the bucket, and cut into batches
    of 32; each batch reports its padding fraction
    (1 − Σtokens / (max_len × size)).  Grouping similar lengths is what
    keeps pad_frac near zero instead of the ~50% a random batch pays.

    Scale: one window per length bucket (thousands of small
    independent partitions — no global sort), then a (bucket, batch)
    aggregate.  The window's partition key is the bucket, so skew is
    bounded by the length distribution; at 100 TB the batch cut
    becomes part of the shard-writing pass.
    """
    from pyspark.sql import Window

    d = spread(load_tables(spark, sf_dir)["documents"])
    t = d.select("doc_id", F.size(T.tokens("text")).alias("n_tokens"))
    b = t.withColumn("bucket", (F.col("n_tokens") / 16).cast("long"))
    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    a = b.withColumn("rn", F.row_number().over(w) - 1).withColumn(
        "batch_in_bucket", (F.col("rn") / 32).cast("long")
    )
    return a.groupBy("bucket", "batch_in_bucket").agg(
        F.count(F.lit(1)).alias("batch_size"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(
            1.0 - F.sum("n_tokens") / (F.max("n_tokens") * F.count(F.lit(1))), 4
        ).alias("pad_frac"),
    )


@query(
    "sample_weighted_aes",
    oracle="""
WITH k AS (
  SELECT doc_id, n_chars,
         ln(('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
            / 72057594037927936.0) / n_chars AS aes_key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM k ORDER BY aes_key DESC, doc_id LIMIT 50
""",
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys (the
    Efraimidis–Spirakis A-ES scheme): each row draws u ∈ (0,1) and is
    ranked by ln(u)/w — the top-k under that key is an exact weighted
    sample without replacement, computed in ONE distributed pass with a
    TakeOrderedAndProject (no sequential draws, no rejection loop).
    Here w = n_chars, i.e. length-proportional corpus subsampling.

    u is md5-derived (seeded, per-row), so the sample is REPRODUCIBLE
    and engine-portable — reshard-stable like split_train_holdout, and
    the oracle replays the identical keys.  At 100 TB this shape is
    how a weighted training subset is drawn: map-only key projection +
    top-k; for k too large for one TakeOrdered, switch to a key
    threshold from a quantile sketch."""
    d = load_tables(spark, sf_dir)["documents"]
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 14),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 56))
    key = F.log(u) / F.col("n_chars")
    return (
        d.filter(F.col("n_chars") > 0)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"), key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(50)
        .select("doc_id", "n_chars")
    )
