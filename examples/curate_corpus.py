"""End-to-end corpus curation demo — the pipeline a training-data run
executes, wired from the library's operators:

    quality filter → exact dedup → substring dedup → MinHash near-dup →
    PII redaction → deterministic split → length-bucketed shard write

Run:  python examples/curate_corpus.py [sf_dir] [out_dir]
(defaults: /root/testdata/sf0.001, /tmp/curated)

Every stage is a DataFrame transform — one lazy plan per output, scans
shared, nothing collected to the driver.  The same code runs unchanged
on a cluster; see SCALE.md for the per-stage 100 TB notes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from fletcher_spark import get_spark, lint_plan
from fletcher_spark.io import load_tables, write_training_shards
from fletcher_spark.pipeline import dedup as D
from fletcher_spark.pipeline import textpipe as T


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated"

    spark = get_spark("curate-corpus-example")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_tables(spark, sf_dir)["documents"]

    # 1. quality gate: cheap, map-only, runs first so everything
    #    downstream touches fewer rows
    toks = T.tokens(F.col("text"))
    quality = docs.filter(
        (F.col("n_chars") >= 100) & (F.size(toks) >= 20)
    )

    # 2. exact dedup (keep-min on a prefix fingerprint)
    key = F.md5(F.array_join(F.slice(F.split("text", " ", -1), 1, 8), " "))
    keep = quality.withColumn("fp", key)
    winners = keep.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = keep.join(winners, ["fp", "doc_id"]).drop("fp")

    # 3. exact SUBSTRING dedup (Lee et al. 2022): cut duplicated
    #    ≥8-token spans at arbitrary offsets, keep the canonical first
    #    occurrence — catches boilerplate/quote overlap whole-doc dedup
    #    misses; docs left empty by the cut fall out here.
    #    persist the stage-2 output first: it feeds substring_dedup's
    #    two internal branches AND the join-back — unpersisted, the
    #    exact-dedup shuffle would re-run once per consumer
    deduped = deduped.persist()
    cut = D.substring_dedup(deduped, "doc_id", "text", 8)
    deduped = (
        deduped.drop("text", "n_chars")
        .join(cut.filter(F.col("n_dup_tokens") < F.col("n_tokens")), "doc_id")
        .withColumnRenamed("text_clean", "text")
        .withColumn("n_chars", F.length("text"))
        .drop("n_tokens", "n_spans", "n_dup_tokens")
        # ... and the rebuilt corpus feeds the shingle frame and the
        # stage-4 anti-join
        .persist()
    )

    # 4. near-dup removal: MinHash-LSH candidates, exact-Jaccard verify,
    #    drop the higher doc_id of each surviving pair
    sh = D.shingle_frame(deduped, "text", 3).persist()
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    # corpus-size-adaptive Broder banding (4×3 → 3×4 → 2×6 as the
    # survivor count grows; pipeline/dedup.py:LSH_BAND_LADDER), keyed
    # on the SURVIVOR count read off the PERSISTED rebuilt corpus —
    # the same pattern as the library's pipeline_curate_corpus
    # (queries/textpipe.py): deduped.persist() above means the count's
    # first execution materializes the cache and the banding job (and
    # every later consumer) reuses it instead of re-running the
    # exact/substring-dedup sub-DAG (ADVICE r12)
    nk = deduped.agg(F.count(F.lit(1)).alias("__n"))
    banded = sig.crossJoin(F.broadcast(nk)).select(
        "doc_id", F.expr(D.lsh_band_keys_adaptive_sql("sig", "__n")).alias("band_keys")
    )
    pairs = D.candidate_pairs(banded, "doc_id")
    dupes = (
        D.verify_jaccard(pairs, sh, "doc_id", "shingles", 0.5)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    survivors = deduped.join(dupes, "doc_id", "left_anti")

    # 5. PII redaction (chained codegen regex, byte-identical pass-through
    #    for clean text)
    redacted = survivors.withColumn("text", T.redact_pii(F.col("text")))

    # 6. deterministic split on a content-stable hash
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    train = redacted.filter(bucket < 90)

    # pre-flight: refuse to launch a scale-unsafe plan
    findings = [f for f in lint_plan(train) if f.severity == "error"]
    assert not findings, findings

    # 7. shard write: range-partitioned on the shuffle key, sorted within
    #    shards — deterministic membership, resumable
    write_training_shards(train, out, n_shards=4, order_col="doc_id")
    n = spark.read.parquet(out).count()
    print(f"curated {n} docs -> {out} (4 shards)")
    spark.stop()


if __name__ == "__main__":
    main()
