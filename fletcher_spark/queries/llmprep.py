"""LLM training-data preparation operators, round 4: BPE pair counting,
vocab application, SemDeDup-style cluster representatives, blocklist
filtering, deterministic training-order shuffle, temperature-weighted
corpus mixing, boilerplate detection, prefix-truncation dedup, and
embedding-health statistics.

These extend the curation surface (queries/textpipe.py, queries/dedup.py)
with the steps a pre-training data pipeline runs between "curated corpus"
and "tokenized shards".  Every query is a declarative DataFrame plan —
hash aggregates, broadcast joins on small derived dims, and array
higher-order functions; no Python UDFs, no collects, no global windows
over unbounded inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.queries.registry import query

#: whitespace-tokenized text with the trailing-separator artifact removed
#: (several corpus docs end in a space; trimming keeps both engines from
#: emitting a final empty token)
_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"


def _toks():
    return F.split(F.trim(F.col("text")), r"\s+", -1)


@query(
    "bpe_pair_counts",
    oracle=f"""
WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
p AS (
  SELECT toks[i] || ' ' || toks[i+1] AS pair
  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer iteration's statistics pass: count every adjacent
    symbol pair across the corpus, return the top-20 merge candidates.

    The pair array is built in-row with ``zip_with`` over two shifted
    slices (no self-join on position), then a single corpus-wide hash
    aggregate keyed on the pair — map-side combined, shuffle width
    bounded by vocab², not corpus size.  At 100 TB this is exactly the
    distributed word-pair count a BPE/WordPiece trainer runs per merge
    round; the top-k is TakeOrdered, never a global sort."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    toks = _toks()
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.filter(n >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@query(
    "tokenize_vocab_apply",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
e AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM tok
),
v AS (
  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS tid
  FROM e GROUP BY tok QUALIFY tid <= 30
)
SELECT e.doc_id, CAST(e.pos AS BIGINT) AS pos, e.tok,
       CAST(coalesce(v.tid, 0) AS INT) AS token_id
FROM e LEFT JOIN v USING (tok)
WHERE e.doc_id < 5
""",
)
def tokenize_vocab_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab construction + application: build a 30-entry vocabulary
    (ids by corpus frequency, ties broken lexically), then map every
    token of the first five documents to its id, OOV → 0.

    The vocab is a corpus-frequency hash aggregate topped by a
    row_number over 30 rows (driver-sized by construction — a real
    vocab is ≤ a few 100k entries); application is a broadcast left
    join onto the posexploded token stream, so the corpus-side pass
    stays map-only.  This is the tokenizer-apply shape: model table
    broadcast, data table streamed."""
    d = load_tables(spark, sf_dir)["documents"]
    e = d.select(
        "doc_id", F.posexplode(_toks()).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    w = Window.orderBy(F.desc("cnt"), "tok")
    vocab = (
        e.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("tok", F.row_number().over(w).alias("tid"))
        .filter(F.col("tid") <= 30)
    )
    return (
        e.filter(F.col("doc_id") < 5)
        .join(F.broadcast(vocab), "tok", "left")
        .select(
            "doc_id",
            "pos",
            "tok",
            F.coalesce(F.col("tid"), F.lit(0)).cast("int").alias("token_id"),
        )
    )


@query(
    "semdedup_centroid",
    oracle="""
WITH dims AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
cent AS (SELECT label, i, avg(v) AS c FROM dims GROUP BY label, i),
dist AS (
  SELECT d.vec_id, d.label,
         round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
  FROM dims d JOIN cent c ON d.label = c.label AND d.i = c.i
  GROUP BY d.vec_id, d.label
),
rep AS (
  SELECT label,
         min(struct_pack(d2 := d2, vec_id := vec_id)) AS m,
         CAST(count(*) AS BIGINT) AS n_members
  FROM dist GROUP BY label
)
SELECT label, m.vec_id AS rep_id, round(m.d2, 4) AS rep_d2, n_members
FROM rep
""",
)
def semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster representative selection: for each
    cluster (the provided ``label``), compute the centroid and keep the
    member closest to it — the survivor a semantic-dedup pass would
    retain, with the cluster size for the drop accounting.

    Plan: posexplode to (vec, dim) pairs, centroid = (label, dim)-keyed
    average (k×d rows — broadcast back), squared distance = one hash
    aggregate per vec, representative = in-group struct-min (argmin
    with a deterministic vec_id tiebreak, no window, no sort).  All
    shuffles are keyed on label/vec_id; nothing is all-pairs — this is
    the semantic analogue of dedup_cc_clusters' representative step."""
    e = load_tables(spark, sf_dir)["embeddings"]
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i", "v0"),
    ).select("vec_id", "label", "i", F.col("v0").cast("double").alias("v"))
    cent = dims.groupBy("label", "i").agg(F.avg("v").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum((F.col("v") - F.col("c")) ** 2), 6).alias("d2"))
    )
    return (
        dist.groupBy("label")
        .agg(
            F.min(F.struct("d2", "vec_id")).alias("m"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "label",
            F.col("m.vec_id").alias("rep_id"),
            F.round(F.col("m.d2"), 4).alias("rep_d2"),
            "n_members",
        )
    )


@query(
    "filter_blocklist_stats",
    oracle="""
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents
WHERE source NOT IN ('src3', 'src7', 'src13')
GROUP BY source
""",
)
def filter_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-blocklist filtering — the unconditional first stage of a
    crawl pipeline (licensing/toxicity/opt-out domain lists): anti-join
    the corpus against a blocklist table, report per-source survivors.

    The blocklist is a real (broadcast) table, not an IN-literal —
    production lists are millions of domains, maintained out-of-band;
    BroadcastHashJoin LeftAnti keeps the corpus scan shuffle-free.
    The oracle states the same semantics as NOT IN."""
    d = load_tables(spark, sf_dir)["documents"]
    bl = d.sparkSession.createDataFrame(
        [("src3",), ("src7",), ("src13",)], "source string"
    )
    return (
        d.join(F.broadcast(bl), "source", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@query(
    "docs_global_shuffle",
    oracle="""
WITH k AS (
  SELECT doc_id, md5(doc_id::VARCHAR || '|seed42') AS skey FROM documents
),
t AS (SELECT * FROM k ORDER BY skey LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY skey) AS INT) AS shuffle_pos,
       doc_id, skey
FROM t
""",
)
def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: order the corpus by a
    seeded hash of the stable key and emit the first 20 positions —
    reshard-stable (the order depends only on doc_id + seed, never on
    partitioning), so a resumed training run sees the same sequence.

    The prefix is TakeOrderedAndProject (per-partition top-k, no global
    sort); materializing the FULL shuffled order at 100 TB uses the
    same key with repartitionByRange + sortWithinPartitions — exactly
    what io.write_training_shards does — rather than a driver-side
    row_number.  The window here runs over the 20 surviving rows only."""
    d = load_tables(spark, sf_dir)["documents"]
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|seed42")))
    top = d.select("doc_id", key.alias("skey")).orderBy("skey").limit(20)
    return top.select(
        F.row_number().over(Window.orderBy("skey")).alias("shuffle_pos"),
        "doc_id",
        "skey",
    )


@query(
    "mix_temperature_sampling",
    oracle="""
WITH c AS (
  SELECT source, count(*) AS n_docs,
         CAST(floor(sqrt(count(*) * 1000000.0)) AS BIGINT) AS w_msqrt
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(w_msqrt) AS BIGINT) AS z FROM c)
SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
       round(CAST(c.w_msqrt AS DOUBLE) / CAST(tot.z AS DOUBLE), 6) AS weight,
       CAST((1000 * c.w_msqrt) // tot.z AS BIGINT) AS alloc
FROM c, tot
""",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (T=2 ⇒ weight ∝ n^0.5, the
    standard up-sample-the-tail rule for multi-source pre-training):
    per-source sampling weight and the document allocation out of a
    1000-doc budget.

    One hash aggregate to per-source counts (source-count rows — tiny),
    then a 1-row total broadcast-crossed back.  The corpus is read
    once; everything after the first agg is driver-scale metadata, so
    the 100 TB cost is exactly one map-side-combined count.

    Weights are integer milli-sqrts (r13): ``floor(sqrt(n·10^6))`` —
    IEEE requires sqrt be correctly rounded, so the integer is
    bit-identical in any engine — summed as associative BIGINT, with
    the allocation an EXACT integer floor-division.  The original
    ``floor(1000·pow(n,0.5)/sum(...))`` double form was caught at the
    100× ledger sweep landing exactly ON the floor boundary (equal
    per-source counts ⇒ ratio exactly 1/k): the double total's last
    ulp depends on how the partial aggregates grouped the addends, so
    alloc flipped 49/50 with partition layout — the same
    order-dependence class as the money sums, closed the same way."""
    d = load_tables(spark, sf_dir)["documents"]
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    c = c.withColumn(
        "w_msqrt", F.floor(F.sqrt(F.col("n_docs") * F.lit(1000000.0)))
    )
    tot = c.agg(F.sum("w_msqrt").alias("z"))
    return c.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.col("w_msqrt").cast("double") / F.col("z").cast("double"), 6).alias(
            "weight"
        ),
        F.expr("(1000 * w_msqrt) div z").alias("alloc"),
    )


@query(
    "text_boilerplate_ratio",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (
  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
  FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
b AS (SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 3)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(b.sh) AS BIGINT) AS n_boiler,
       round(count(b.sh)::DOUBLE / count(*), 4) AS boiler_ratio
FROM sh s LEFT JOIN b ON s.sh = b.sh
GROUP BY s.doc_id
""",
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: an 8-token shingle appearing in ≥3
    distinct documents is boilerplate (nav bars, license headers,
    templated footers); score each document by the fraction of its
    shingle positions that are boilerplate — the CCNet/C4 signal for
    dropping template-heavy pages.

    Two hash aggregates and one shingle-keyed shuffle join: explode
    shingles (map-only), distinct-doc count per shingle, left-join the
    flag back, re-aggregate per doc.  The shingle is reduced to an
    8-byte key BEFORE the explode, so both shuffles carry longs, never
    ~50-byte strings (a 6× smaller shuffle payload; r10 A/B raw-string
    → hashed keys: 38.2 → 29.3 s on 500 k docs) — and the key never
    materializes the shingle STRING either: each token is
    ``xxhash64``-ed once, then every position folds its 8 token hashes
    with a rotate-xor (each position contributes at a distinct
    rotation, so the key is order-sensitive; pure bitwise ops, safe
    under ANSI overflow checking).  Interleaved min-of-3 A/B vs the
    string-hash key at the 100× probe: 48.7 → 33.5 s under load —
    token hashing is one pass over the text, the per-position work is
    8 long ops instead of a ~50-byte concat+hash.  Output is identical
    up to a 64-bit key collision between distinct shingles
    (~C(5e7,2)/2⁶⁴ ≈ 7e-5 expected pairs at the probe's 50 M shingles
    — the standard content-addressed-key trade every production dedup
    makes).  No windows, no all-pairs; the join key is
    content-addressed so skew only appears where boilerplate actually
    exists — which AQE splits.

    The token-hash array is staged through its OWN projection (``th``)
    before the per-position fold consumes it: Catalyst does not CSE
    inside higher-order-function lambdas, so an inlined
    ``transform(toks, xxhash64)`` subtree is re-evaluated per shingle
    position — O(n²) token hashes, the exact pitfall the paragraph
    above describes.  ``th`` is referenced twice downstream (``size``
    + ``slice``), which keeps CollapseProject from re-inlining the
    non-cheap transform (plan shape pinned in
    tests/test_plans.py::test_boilerplate_token_hash_staged)."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    toks = _toks()
    n = F.size(toks)

    def _rot7(c):
        return F.shiftleft(c, 7).bitwiseOR(F.shiftrightunsigned(c, 57))

    staged = d.filter(n >= 8).select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("th")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("th") - 7),
        lambda i: F.aggregate(
            F.slice("th", i, 8),
            F.lit(0).cast("long"),
            lambda acc, x: _rot7(acc).bitwiseXOR(x),
        ),
    )
    sh = staged.select("doc_id", F.explode(grams).alias("sh"))
    # NOT persisted (r13 wave 8 A/B): caching the exploded frame for
    # the two consumers measured 1.71 → 2.17 s warm / 2.84 → 3.65 cold
    # — writing n_positions rows to the cache costs more than folding
    # the shingle keys twice (8 long ops per position)
    boiler = (
        sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("sh", F.lit(1).alias("is_b"))
    )
    return (
        sh.join(boiler, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_b").alias("n_boiler"),
            F.round(F.count("is_b") / F.count(F.lit(1)), 4).alias("boiler_ratio"),
        )
    )


@query(
    "dedup_prefix_hash",
    oracle="""
SELECT md5(substr(text, 1, 64)) AS pfx_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper
FROM documents
GROUP BY pfx_hash
HAVING count(*) > 1
""",
)
def dedup_prefix_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation dedup: crawls re-serve the same page with
    differing tails (ads, timestamps), so documents sharing a 64-char
    prefix hash are grouped and a keep-min representative chosen —
    the cheap first-pass dedup that runs before MinHash.

    One md5 projection + one hash aggregate; the md5 key bounds
    shuffle-key width to 32 bytes regardless of document size.  Same
    keep-min contract as dedup_exact (queries/dedup.py), on a
    prefix-normalized key."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.groupBy(F.md5(F.substring("text", 1, 64)).alias("pfx_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "embed_norm_stats",
    oracle="""
WITH n AS (
  SELECT label,
         sqrt(list_reduce(
           list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
           (a, b) -> a + b)) AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm
FROM n GROUP BY label
""",
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health check: L2-norm distribution per label.  Norm
    collapse or blow-up per class is the standard signal for a broken
    encoder run before the vectors reach dedup/ANN.

    The norm is an in-row left-fold (``F.aggregate``) — identical
    left-to-right double accumulation in both engines, so the values
    are bit-exact before the per-label aggregate; the corpus pass is
    map-only plus one label-keyed agg."""
    e = load_tables(spark, sf_dir)["embeddings"]
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


@query(
    "embed_dim_stats",
    oracle="""
WITH dims AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
)
SELECT i, round(avg(v), 4) AS dim_mean, round(stddev_samp(v), 4) AS dim_std
FROM dims GROUP BY i
""",
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std across the embedding corpus — the drift
    monitor a pipeline runs between encoder versions (a shifted
    dimension means the ANN index must be rebuilt).

    posexplode to (dim, value) then one 64-key hash aggregate —
    map-side partials make the shuffle 64 rows per partition no matter
    the corpus size."""
    e = load_tables(spark, sf_dir)["embeddings"]
    dims = e.select(F.posexplode("embedding").alias("i", "v0")).select(
        "i", F.col("v0").cast("double").alias("v")
    )
    return dims.groupBy("i").agg(
        F.round(F.avg("v"), 4).alias("dim_mean"),
        F.round(F.stddev_samp("v"), 4).alias("dim_std"),
    )


@query(
    "sample_k_per_group",
    oracle="""
SELECT source, doc_id,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY md5(doc_id::VARCHAR || '|cap7')) AS INT) AS rk
FROM documents
QUALIFY rk <= 5
""",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the Gopher/RefinedWeb per-domain limit):
    keep at most 5 documents per source, chosen by seeded-hash order so
    the sample is deterministic and reshard-stable.

    One window per source partition ordered by the hash — the shuffle
    is keyed on source, and each group's sort is local.  A skewed
    mega-domain is exactly the case the cap exists for: AQE splits the
    oversized partition, and the top-5-by-hash per group could also run
    as a bounded min-heap aggregate if a domain were pathological."""
    d = load_tables(spark, sf_dir)["documents"]
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|cap7")))
    w = Window.partitionBy("source").orderBy("skey")
    return (
        d.select("source", "doc_id", h.alias("skey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", "rk")
    )


@query(
    "winsorize_doc_lengths",
    oracle="""
WITH p AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS p05,
         quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY source
),
c AS (
  SELECT d.source, d.n_chars, p.p05, p.p95,
         least(greatest(d.n_chars::DOUBLE, p.p05), p.p95) AS clamped
  FROM documents d JOIN p USING (source)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(min(p05), 4) AS p05, round(min(p95), 4) AS p95,
       round(avg(n_chars), 4) AS avg_raw,
       round(avg(clamped), 4) AS avg_winsor
FROM c GROUP BY source
""",
)
def winsorize_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length winsorization — the robust-statistics prep step
    that keeps a handful of pathological crawl pages (truncated stubs,
    concatenated mega-docs) from dominating per-domain length budgets:
    clamp ``n_chars`` to the source's exact [p05, p95] band and report
    raw vs winsorized means.

    Two source-keyed aggregates with a join between them: phase 1
    produces one row per source via the VALUE-HISTOGRAM exact
    quantiles (operators/agg.py:exact_quantiles — interpolated
    ``quantile_cont`` semantics, distributed, no buffer-all
    ``percentile()`` aggregate), broadcast back onto the corpus scan,
    phase 2 re-aggregates.  At 100 TB the percentile table is
    |sources| rows (always broadcastable); histograms over (source,
    n_chars) stay tractable because lengths are bounded — unbounded-
    cardinality columns would swap in ``percentile_approx``."""
    from fletcher_spark.operators.agg import exact_quantiles

    d = load_tables(spark, sf_dir)["documents"]
    p = exact_quantiles(d, "n_chars", {"p05": 0.05, "p95": 0.95}, ("source",))
    clamped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")
    )
    return (
        d.join(F.broadcast(p), "source")
        .select("source", "n_chars", "p05", "p95", clamped.alias("clamped"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("p05"), 4).alias("p05"),
            F.round(F.min("p95"), 4).alias("p95"),
            F.round(F.avg("n_chars"), 4).alias("avg_raw"),
            F.round(F.avg("clamped"), 4).alias("avg_winsor"),
        )
    )


@query(
    "winsorize_by_source_cuts",
    oracle="""
WITH v AS (
  SELECT source, n_chars::DOUBLE AS x FROM documents WHERE n_chars IS NOT NULL
),
h AS (SELECT source, x, count(*) AS c FROM v GROUP BY 1, 2),
cum AS (
  SELECT source, x, sum(c) OVER (PARTITION BY source ORDER BY x) AS cw FROM h
),
nn AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
cuts AS (
  SELECT cum.source,
         min(x) FILTER (WHERE cw >= ceil(1  * n / 20.0)) AS p05,
         min(x) FILTER (WHERE cw >= ceil(19 * n / 20.0)) AS p95
  FROM cum JOIN nn USING (source) GROUP BY 1
)
SELECT v.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(min(p05), 4) AS p05,
       round(min(p95), 4) AS p95,
       CAST(count(*) FILTER (WHERE x < p05) AS BIGINT) AS n_clamped_low,
       CAST(count(*) FILTER (WHERE x > p95) AS BIGINT) AS n_clamped_high,
       round(avg(least(greatest(x, p05), p95)), 4) AS avg_winsor
FROM v JOIN cuts USING (source)
GROUP BY v.source
""",
)
def winsorize_by_source_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization under RANK-CUT semantics — the keyed
    face of the exact cut-point operator (VERDICT r5 ask #7:
    operators/agg.py:exact_cut_points_by_key, ``_cuts_by_key`` with a
    NON-EMPTY key): for every source, the k=20 rank-exact cut table
    yields [p05, p95] = [cut_1, cut_19] (smallest value whose
    within-source cumulative count ≥ ceil(i·n/20)), clamp each doc's
    length into that band, report clamp counts and the winsorized
    mean.  Complements winsorize_doc_lengths, which checks the
    INTERPOLATED (quantile_cont) contract over the same table — the
    driver now value-checks both quantile semantics on the keyed path.

    Scale: histogram and prefix sums are keyed by (source,
    coarse-bucket) — fully distributed; the cuts table is |sources|
    rows, driver-pinned and broadcast back onto the corpus scan."""
    from fletcher_spark.operators.agg import exact_cut_points_by_key

    d = load_tables(spark, sf_dir)["documents"]
    # materialize: |sources| is dimension-sized, the broadcast case
    cuts = exact_cut_points_by_key(d, ["source"], "n_chars", 20, materialize=True)
    band = cuts.select(
        "source",
        F.element_at("cuts", 1).alias("p05"),
        F.element_at("cuts", 19).alias("p95"),
    )
    x = F.col("n_chars").cast("double")
    clamped = F.least(F.greatest(x, F.col("p05")), F.col("p95"))
    return (
        d.filter(F.col("n_chars").isNotNull())
        .join(F.broadcast(band), "source")
        .select(
            "source",
            x.alias("x"),
            "p05",
            "p95",
            clamped.alias("clamped"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("p05"), 4).alias("p05"),
            F.round(F.min("p95"), 4).alias("p95"),
            F.sum((F.col("x") < F.col("p05")).cast("long")).alias("n_clamped_low"),
            F.sum((F.col("x") > F.col("p95")).cast("long")).alias("n_clamped_high"),
            F.round(F.avg("clamped"), 4).alias("avg_winsor"),
        )
    )


@query(
    "hybrid_text_embed_filter",
    oracle="""
WITH q AS (
  SELECT doc_id FROM documents WHERE n_chars >= 150 AND lang IN ('en', 'de')
),
j AS (
  SELECT e.label,
         sqrt(list_reduce(
           list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE),
           (a, b) -> a + b)) AS nrm
  FROM embeddings e JOIN q ON e.vec_id = q.doc_id
)
SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
       round(avg(nrm), 4) AS avg_norm
FROM j GROUP BY label
""",
)
def hybrid_text_embed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation: quality-filter on TEXT metadata, then
    aggregate over the surviving EMBEDDINGS — the join no other
    query exercises (documents.doc_id == embeddings.vec_id, the
    corpus↔vector-store key).  A curation pass that drops documents
    must drop their vectors too, or the ANN index serves deleted docs.

    The text side reduces to a doc_id key set before the join (filter
    pushed to the documents scan, two columns read); the join is keyed
    on the id — at 100 TB both sides shuffle-hash on doc_id, or the
    key set broadcasts when the filter is selective.  Norms are the
    bit-exact left-fold shared with embed_norm_stats."""
    t = load_tables(spark, sf_dir)
    q = (
        t["documents"]
        .filter((F.col("n_chars") >= 150) & F.col("lang").isin("en", "de"))
        .select("doc_id")
    )
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        t["embeddings"]
        .join(q, F.col("vec_id") == F.col("doc_id"))
        .select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
    )


@query(
    "tfidf_doc_topk",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT count(*) AS nd FROM documents),
s AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         tf.tf * ln(nd.nd::DOUBLE / df.df) AS score
  FROM tf JOIN df USING (tok), nd
),
r AS (
  SELECT doc_id, tok, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rk
  FROM s
)
SELECT doc_id, tok, tf, df, round(score, 6) AS score, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 3
""",
)
def tfidf_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic sparse retrieval /
    keyword-extraction feature (text_vocab_idf is the corpus-level IDF
    half; this joins it back per document).

    One explode feeds BOTH frequencies: tf = (doc, tok)-keyed count,
    df = tok-keyed count over the tf rows (already distinct per doc —
    no second distinct pass), corpus size is a broadcast 1-row agg.
    The tf→df join is token-keyed (bounded by |vocab|, AQE chooses
    broadcast vs shuffle); top-3 is a per-doc window over ≤|doc vocab|
    rows.  Exact ties (equal tf and df ⇒ bit-equal score in both
    engines) break on the token, so ranking is cross-engine stable."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    from fletcher_spark.pipeline import textpipe as T

    # tf computed IN-ROW (r13, guide §2.3 "aggregate before you
    # shuffle"): per-doc term frequency never needs to leave the row,
    # so the histogram is a staged sort + run-length array pipeline
    # (T.explode_histogram) and the old (doc, tok)-keyed corpus-wide
    # hash-agg Exchange disappears — the only remaining corpus shuffle
    # is the |vocab|-bounded df aggregate.  Persisted: df and the score
    # join both consume it, and the df stage (a dependency of the join)
    # materializes the cache before the probe side reads it.  Exact
    # integer counts, identical to the groupBy form.
    tf = T.explode_histogram(
        d.select("doc_id", "text"), T.tokens("text"), ["doc_id"], "tok", "tf"
    ).persist()
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    s = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("nd") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", F.round("score", 6).alias("score"), "rk")
    )
