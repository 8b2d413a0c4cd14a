"""Bucketing: pre-shuffling fact tables into bucketed storage makes
repeated joins on the bucket key exchange-free — the co-located-join
strategy the 100 TB plan relies on for fact⋈fact joins that run every
day.  This test writes bucketed copies of orders/lineitem and asserts
the join plans with NO shuffle on either side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    t = load_tables(spark, SF_DIR)
    # explicit per-table paths: spark.sql.warehouse.dir is static, so
    # external-table locations under tmp keep the test hermetic
    warehouse = str(tmp_path_factory.mktemp("bucketed"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdb")
    for name, df, key in (
        ("orders_b", t["orders"], "o_orderkey"),
        ("lineitem_b", t["lineitem"], "l_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{warehouse}/{name}")
            .saveAsTable(f"bucketdb.{name}")
        )
    yield "bucketdb.orders_b", "bucketdb.lineitem_b"
    spark.sql("DROP TABLE IF EXISTS bucketdb.orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketdb.lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    orders_t, lineitem_t = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        joined = (
            spark.table(lineitem_t)
            .join(spark.table(orders_t), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both sides bucketed on the join key: SortMergeJoin without any
        # Exchange under it (the aggregate after may still exchange)
        join_part = plan.split("SortMergeJoin")[1] if "SortMergeJoin" in plan else plan
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
        rows = joined.collect()
        assert sum(r["n"] for r in rows) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregating on the bucket key reuses the storage partitioning."""
    orders_t, _ = bucketed_tables
    agg = spark.table(orders_t).groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


@pytest.fixture(scope="module")
def band_index_table(spark, tmp_path_factory):
    """The dedup_incremental_batch docstring's 100 TB claim made real:
    the CORPUS band table persisted as a bucketed, in-bucket-sorted
    table the daily ingest job reuses."""
    from fletcher_spark.pipeline import dedup as D

    d = load_tables(spark, SF_DIR)["documents"]
    sh = D.shingle_frame(d, "text", 3)
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    banded = sig.select(
        "doc_id", F.explode(F.expr(D.lsh_band_keys_sql("sig", 4, 3))).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    corpus = banded.filter(F.col("doc_id") % 10 != 0)

    warehouse = str(tmp_path_factory.mktemp("bandidx"))
    spark.sql("CREATE DATABASE IF NOT EXISTS banddb")
    (
        corpus.write.mode("overwrite")
        .bucketBy(8, "band", "key")
        .sortBy("band", "key")
        .option("path", f"{warehouse}/corpus_bands")
        .saveAsTable("banddb.corpus_bands")
    )
    yield "banddb.corpus_bands", banded
    spark.sql("DROP TABLE IF EXISTS banddb.corpus_bands")


def test_band_index_reuse_shuffles_only_the_batch(spark, band_index_table):
    """Daily-ingest candidate join against the persisted band index:
    the corpus side must come straight off the bucketed scan — the ONLY
    hash Exchange in the join is the (small) batch side.  This is what
    makes daily dedup O(batch) instead of O(corpus) at 100 TB."""
    table, banded = band_index_table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = banded.filter(F.col("doc_id") % 10 == 0)
        corpus_idx = spark.table(table)
        cand = (
            batch.alias("b")
            .join(
                corpus_idx.alias("c"),
                (F.col("b.band") == F.col("c.band")) & (F.col("b.key") == F.col("c.key")),
            )
            .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
            .distinct()
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # exactly ONE (band, key) exchange: the batch side.  The corpus
        # side comes straight off the bucketed scan — its partitioning
        # satisfies the join requirement, so a corpus-side re-shuffle
        # never appears.  (The batch's own signature computation and the
        # distinct's aggregate shuffle are batch-sized, not corpus-sized.)
        assert plan.count("Exchange hashpartitioning(band") == 1, plan
        assert "SortMergeJoin" in plan, plan

        # parity: the persisted index yields the same candidates as the
        # inline formulation
        inline = (
            batch.alias("b")
            .join(
                banded.filter(F.col("doc_id") % 10 != 0).alias("c"),
                (F.col("b.band") == F.col("c.band")) & (F.col("b.key") == F.col("c.key")),
            )
            .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
            .distinct()
        )
        assert sorted(map(tuple, cand.collect())) == sorted(map(tuple, inline.collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_band_index_rebuild_rebands_from_stored_signatures(spark, tmp_path):
    """The r12 Broder-ladder claim for the PERSISTED index case, made
    real: dedup_incremental_batch's band table stays on a fixed layout
    because re-banding it is an index REBUILD — and that rebuild needs
    only the stored 12-wide signatures, never the documents.  Moving
    4×3 → 3×4 (the next LSH_BAND_LADDER rung) is a pure projection over
    the signature parquet: the rebuild plan must scan exactly ONE
    source (the signature table, not documents), and its band table
    must equal a from-scratch 3×4 banding of the same corpus."""
    from fletcher_spark.pipeline import dedup as D

    d = load_tables(spark, SF_DIR)["documents"]
    sh = D.shingle_frame(d, "text", 3)
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    sig_path = str(tmp_path / "sig_store")
    sig.write.mode("overwrite").parquet(sig_path)

    # rebuild: stored signatures -> next rung, no document access
    stored = spark.read.parquet(sig_path)
    rebuilt = stored.select(
        "doc_id", F.explode(F.expr(D.lsh_band_keys_sql("sig", 3, 4))).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    plan = rebuilt._jdf.queryExecution().executedPlan().toString()
    # exactly ONE scan, of the signature store (the plan renderer
    # truncates paths, so count scans rather than substring the path);
    # ReadSchema proves it is the (doc_id, sig) table, and no shuffle
    # appears — the rebuild is map-only
    assert plan.count("FileScan parquet") == 1, plan
    assert "documents" not in plan, f"rebuild touched the documents table:\n{plan}"
    assert "sig:array<bigint>" in plan, plan
    assert "Exchange" not in plan, f"re-band should be map-only:\n{plan}"

    # parity: identical band table to banding built from the corpus
    scratch = (
        D.minhash_signature_df(D.shingle_frame(d, "text", 3), "doc_id", "shingles", 12)
        .select("doc_id", F.explode(F.expr(D.lsh_band_keys_sql("sig", 3, 4))).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, scratch.collect()))


@pytest.fixture(scope="module")
def gram_index_table(spark, tmp_path_factory):
    """substring_dedup's 100 TB claim made real: the CORPUS k-gram
    occurrence table persisted as a bucketed, in-bucket-sorted table
    the daily ingest job probes — the substring analog of the band
    index above."""
    from fletcher_spark.pipeline.dedup import gram_occurrences

    d = load_tables(spark, SF_DIR)["documents"]
    occ = gram_occurrences(d, "doc_id", "text", 8)
    corpus = occ.filter(F.col("doc_id") % 10 != 0)

    warehouse = str(tmp_path_factory.mktemp("gramidx"))
    spark.sql("CREATE DATABASE IF NOT EXISTS gramdb")
    (
        corpus.write.mode("overwrite")
        .bucketBy(8, "gram")
        .sortBy("gram")
        .option("path", f"{warehouse}/corpus_grams")
        .saveAsTable("gramdb.corpus_grams")
    )
    yield "gramdb.corpus_grams", occ
    spark.sql("DROP TABLE IF EXISTS gramdb.corpus_grams")


def test_gram_index_reuse_shuffles_only_the_batch(spark, gram_index_table):
    """Incremental exact-substring dedup against the persisted gram
    index: a new batch's k-grams probe the corpus index (any hit marks
    the batch span — the corpus occurrence is by definition older, so
    canonical-first needs no min(struct) in the incremental shape).
    The corpus side must come straight off the bucketed scan: the ONLY
    gram Exchange in the join is the (small) batch side, making daily
    substring dedup O(batch), not O(corpus).

    NOTE: the index probe covers batch-vs-corpus duplicates only; a
    full daily job additionally runs substring_dedup WITHIN the batch
    (O(batch) by construction) for spans duplicated only inside the
    day's crawl, then appends the batch's grams to the index."""
    table, occ = gram_index_table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = occ.filter(F.col("doc_id") % 10 == 0)
        marked = (
            batch.alias("b")
            .join(spark.table(table).alias("c"), F.col("b.gram") == F.col("c.gram"))
            .select(F.col("b.doc_id").alias("doc_id"), F.col("b.pos").alias("pos"))
            .distinct()
        )
        plan = marked._jdf.queryExecution().executedPlan().toString()
        # exactly ONE gram exchange: the batch side.  The corpus index's
        # bucket partitioning satisfies the join requirement.  (The
        # distinct's (doc_id, pos) aggregate shuffle is batch-sized.)
        assert plan.count("Exchange hashpartitioning(gram") == 1, plan
        assert "SortMergeJoin" in plan, plan

        # parity with the inline formulation
        inline = (
            batch.alias("b")
            .join(
                occ.filter(F.col("doc_id") % 10 != 0).alias("c"),
                F.col("b.gram") == F.col("c.gram"),
            )
            .select(F.col("b.doc_id").alias("doc_id"), F.col("b.pos").alias("pos"))
            .distinct()
        )
        assert sorted(map(tuple, marked.collect())) == sorted(map(tuple, inline.collect()))
        assert marked.count() > 0  # planted dups guarantee batch hits
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
