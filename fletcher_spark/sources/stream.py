"""Streaming sources (SURVEY.md §2.8): file-based Structured Streaming
ingestion mirroring the batch readers in fletcher_spark.io.

``readStream`` needs an explicit schema (no inference on unbounded
input); the events nanosecond-timestamp normalization is identical to
the batch path (io.Tables) so batch and streaming plans agree row for
row — asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def stream_parquet(
    spark: SparkSession, directory: str, schema, glob: str | None = None
) -> DataFrame:
    """Unbounded parquet directory source (file sources must be
    directories; ``glob`` narrows to one table's files).  At scale: pair
    with ``maxFilesPerTrigger`` for micro-batch sizing; exactly-once
    comes from the checkpoint + file-source log."""
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(directory)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``io.load_tables(...)['events']``: same
    ns→µs timestamp normalization, same column set."""
    from fletcher_spark.io import load_tables, normalize_events

    # load_tables applies the runtime confs; its memoized handle knows
    # the on-disk schema, so only the first read in a session infers it.
    schema = load_tables(spark, sf_dir).raw("events").schema
    raw = stream_parquet(spark, sf_dir, schema, glob="events.parquet")
    return normalize_events(raw)
