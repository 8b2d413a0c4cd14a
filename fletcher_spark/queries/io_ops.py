"""Driver-visible io surface: sharded training writes + compaction
(SURVEY.md §2.1 sink rows; previously pytest-only — VERDICT r3 asked
for registered round-trip evidence).

Each query WRITES a parquet dataset to a scratch directory via the io
operator under test, reads it back, and returns a content audit.  The
oracle computes the identical audit from the source table directly, so
a green row proves the round-trip is lossless (row set, key range,
payload bytes via md5 distinctness).  Layout properties the oracle
cannot see — shard contiguity, in-shard sort, output file sizing — stay
pinned in tests/test_partitioned_io.py.

Scratch dirs live under ``tempfile.gettempdir()`` and are per-call
(mkdtemp), left for the OS to reap: the returned DataFrame lazily reads
them AFTER this function returns, so deleting eagerly would break the
caller's collect.  Both queries are BENCH_EXCLUDEd — they measure disk,
not the engine, and the headline bench stays pure compute.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import compact_parquet, load_tables, spread, write_training_shards
from fletcher_spark.queries.registry import BENCH_EXCLUDE, query

#: One audit contract shared by both round-trips (and by the oracle).
_AUDIT_ORACLE = """
SELECT count(*)::BIGINT                 AS n_rows,
       count(DISTINCT doc_id)::BIGINT   AS n_docs,
       count(DISTINCT md5(text))::BIGINT AS n_texts,
       CAST(sum(n_chars) AS BIGINT)     AS sum_chars,
       min(doc_id)                      AS min_doc,
       max(doc_id)                      AS max_doc
FROM documents
"""


def _audit(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_texts"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query("io_shard_roundtrip", oracle=_AUDIT_ORACLE)
def io_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_training_shards (io.py) round-trip: range-partition the
    documents table into 8 deterministic shards, read the dataset back,
    audit content equality against the source.  The write's plan is one
    range Exchange (sampled bounds) + per-shard local sort — the
    shard-layout cost model a 100 TB training-data publish pays."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = tempfile.mkdtemp(prefix="fletcher_shards_")
    write_training_shards(docs, out, n_shards=8, order_col="doc_id")
    return _audit(spark.read.schema(docs.schema).parquet(out))


@query("io_compact_roundtrip", oracle=_AUDIT_ORACLE)
def io_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact_parquet (io.py) round-trip: rewrite the documents
    dataset into ~128 MB-target files (metadata-sized, no data read for
    the sizing), read back, audit content equality.  The operational
    small-files fix — at 100 TB this runs per partition directory."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = tempfile.mkdtemp(prefix="fletcher_compact_")
    compact_parquet(spark, f"{sf_dir}/documents.parquet", out, target_mb=128)
    return _audit(spark.read.schema(docs.schema).parquet(out))


@query("io_jsonl_roundtrip", oracle=_AUDIT_ORACLE)
def io_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip: write the documents table as
    JSONL (the interchange format most crawl/annotation tooling
    speaks), read it back with the EXPLICIT source schema — never
    inference, which samples files and can widen/narrow types between
    runs — and audit content equality.  JSONL is splittable per line,
    so the read parallelizes like parquet minus column pruning; the
    audit proves the escape/quote cycle is lossless."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = tempfile.mkdtemp(prefix="fletcher_jsonl_")
    docs.write.mode("overwrite").json(out)
    return _audit(spark.read.schema(docs.schema).json(out))


@query("io_csv_roundtrip", oracle=_AUDIT_ORACLE)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round-trip with header + full quoting: the
    lowest-common-denominator export format, read back with the
    explicit schema (CSV carries no types at all) and audited against
    the source.  ``quoteAll`` makes embedded delimiters/newlines safe;
    multiLine stays off so the read remains splittable."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = tempfile.mkdtemp(prefix="fletcher_csv_")
    docs.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    return _audit(
        spark.read.schema(docs.schema).option("header", True).csv(out)
    )


@query("io_orc_roundtrip", oracle=_AUDIT_ORACLE)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip: the other columnar format Spark
    ships natively (Hive-ecosystem interchange) — write the documents
    table as ORC, read back, audit content equality.  Same predicate
    pushdown / column pruning machinery as parquet, so the dataset can
    serve the same scan patterns."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = tempfile.mkdtemp(prefix="fletcher_orc_")
    docs.write.mode("overwrite").orc(out)
    return _audit(spark.read.schema(docs.schema).orc(out))


BENCH_EXCLUDE.update(
    {
        "io_shard_roundtrip",
        "io_compact_roundtrip",
        "io_jsonl_roundtrip",
        "io_csv_roundtrip",
        "io_orc_roundtrip",
    }
)


@query(
    "dataset_checksum",
    oracle="""
WITH r AS (
  SELECT l_returnflag,
         ('0x' || substr(md5(
            CAST(l_orderkey AS VARCHAR) || '|' ||
            CAST(l_linenumber AS VARCHAR) || '|' ||
            CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|' ||
            l_returnflag || '|' ||
            CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
         ), 1, 14))::BIGINT AS h
  FROM lineitem)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT)              AS n_rows,
       bit_xor(h)                            AS xor_check,
       CAST(sum(h) % 2147483647 AS BIGINT)   AS sum_check
FROM r GROUP BY l_returnflag
""",
)
def dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per partition group — how a
    100 TB copy/migration is verified WITHOUT sorting either side: xor
    and modular-sum of per-row md5-derived 56-bit hashes are invariant
    under row order and partitioning, so source and replica compare by
    |groups| tiny rows.  xor alone cancels duplicated row PAIRS; the
    modular sum (and count) close that hole — a row duplicated twice
    shifts sum_check and n_rows even when xor_check survives.  The sum
    accumulates in DECIMAL(38,0) (exact at any real row count — a
    64-bit accumulator overflows), then reduces mod 2^31-1.

    Map-only hash + one hash-aggregate; identical md5 bits in both
    engines (the repo's standard cross-engine hash family).  The row
    canonicalization sticks to integer/string/date columns — float
    formatting differs across engines and belongs in a decimal cast if
    it must be covered."""
    # spread: per-row md5 over every column is the heavy part and a
    # single-split scan serializes it on one core (identity at scale);
    # xor/mod-sum/count are exactly order-invariant (r13)
    li = spread(load_tables(spark, sf_dir)["lineitem"])
    repr_ = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("long").cast("string"),
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("date").cast("string"),
    )
    h = F.conv(F.substring(F.md5(repr_), 1, 14), 16, 10).cast("long")
    return (
        li.select("l_returnflag", h.alias("h"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_check"),
            # sum in DECIMAL(38,0): exact at any real row count (a
            # LongType sum of 56-bit hashes overflows past ~128 rows x
            # 2^56; a per-row mod still overflows past ~4e9 rows); the
            # final mod keeps the emitted check BIGINT-sized, matching
            # the oracle's exact HUGEINT sum % p
            (F.sum(F.col("h").cast("decimal(38,0)")) % 2147483647)
            .cast("long")
            .alias("sum_check"),
        )
    )


@query(
    "io_arrow_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def io_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow ingest + egress (SURVEY §2.1 rows 3-4, the reference's
    ``pandas_from_arrow`` / ``__arrow_array__`` surface —
    /root/reference/fletcher/base.py:1712-1750): read the parquet file
    Arrow-side, ingest the ``pa.Table`` (io.py:from_arrow — record
    batches shipped to the JVM as an RDD), egress back to Arrow
    (io.py:to_arrow), re-ingest, and return the twice-round-tripped
    frame for the value check.  The egress collect is bounded by the
    dimension table — Arrow egress is a driver-materialization API by
    definition (the reference's too); fact-sized flows use sinks."""
    import pyarrow.parquet as _pq

    from fletcher_spark.io import from_arrow, to_arrow

    tbl = _pq.read_table(f"{sf_dir}/region.parquet")
    df = from_arrow(spark, tbl).select("r_regionkey", "r_name")
    return from_arrow(spark, to_arrow(df))


@query(
    "ctor_from_sequence",
    oracle="""
SELECT CAST(idx AS BIGINT) AS idx, name
FROM (VALUES (0,'alpha'),(1,'beta'),(2,'gamma'),(3,'delta'),(4,NULL))
     AS t(idx, name)
""",
)
def ctor_from_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from-sequence constructor (SURVEY §2.1 row 5, the reference's
    ``FletcherBaseArray(sequence)`` entry —
    /root/reference/fletcher/base.py ``__init__`` over a Python list
    incl. None): a driver-local sequence becomes a distributed frame
    with explicit schema; the null survives as SQL NULL.  Constant
    driver-side data — the constructor is by definition the small end
    of the API (big data arrives via sources, not literals)."""
    seq = [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta"), (4, None)]
    return spark.createDataFrame(seq, "idx long, name string")
