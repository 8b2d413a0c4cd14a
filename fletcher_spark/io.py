"""Scans / sources / sinks + Arrow interchange.

Reference parity (SURVEY.md §2.1):

* ``fletcher.io.read_parquet`` (/root/reference/fletcher/io.py:9-26) —
  Parquet scan with column projection pushed into the reader.  Spark's
  ``FileSourceScanExec`` subsumes it: column pruning *and* predicate
  pushdown happen automatically when the plan is declarative; we expose
  the same convenience signature.
* ``pandas_from_arrow`` (/root/reference/fletcher/base.py:1712-1750) —
  Arrow ingest.  ``from_arrow`` ships the table's record batches to the
  JVM as an RDD, one partition per ``arrow.maxRecordsPerBatch`` rows,
  and the executors decode them; the plan holds a ``LogicalRDD``, never
  the rows themselves.
* ``__arrow_array__`` egress (/root/reference/fletcher/base.py:411-413)
  — ``DataFrame.toArrow()`` in Spark 4.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Parquet scan with column projection.

    The ``select`` is collapsed into the scan by Catalyst (visible as
    ``ReadSchema`` in ``.explain``); filters applied later are pushed
    down as ``PushedFilters``.  At 100 TB this is the difference between
    reading 2 columns and reading 40.
    """
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Iterable[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` yields partition-pruned reads later."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


#: Below this many bytes Spark 4 turns an Arrow ``createDataFrame`` into a
#: driver-side ``LocalRelation``; ``from_arrow`` sets it to 0 per call.
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def from_arrow(spark: SparkSession, table: pa.Table | pa.RecordBatch) -> DataFrame:
    """Arrow ingest — the ``pandas_from_arrow`` analog.

    The table's record batches go to the JVM as an RDD with one partition
    per ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, and the
    executors decode them; the analyzed plan is a ``LogicalRDD``.  Left at
    its default, Spark turns any Arrow input under
    ``arrow.localRelationThreshold`` (48 MB) into driver-side ``UnsafeRow``s
    inside a ``LocalRelation``, and Catalyst then analyses, optimizes and
    plans a tree that holds all of that data (about 0.45 s on a 200k-row
    table at ``local[4]``, against under 0.01 s for the RDD plan).  The
    RDD path was faster at every size measured, 5 rows to 1M, so there
    is no size gate.  An empty table still becomes an empty
    ``LocalRelation`` (Spark's own ``size <= threshold`` test).  float16
    columns, which have no Spark type, arrive as float32.

    The threshold is set to 0 for this call only and the caller's value
    (or its absence) is restored afterwards, also when ingest raises.  It
    is not a session-wide runtime conf: pandas ``createDataFrame`` calls
    elsewhere keep their ``LocalRelation`` and the static size statistics
    that let a downstream join plan as broadcast.  The flip is a session
    conf write, so another thread building a plan on the same session
    during the call briefly sees the threshold at 0.
    """
    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    table = _widen_halffloat(table)
    conf = spark.conf
    previous = conf.get(_LOCAL_RELATION_THRESHOLD, None)
    conf.set(_LOCAL_RELATION_THRESHOLD, "0")
    try:
        try:
            return spark.createDataFrame(table)
        except TypeError:
            # PySparkTypeError: an Arrow type Spark cannot map.  The pandas
            # bridge takes the types pandas can hold; one it cannot either
            # (union) raises from here.
            return spark.createDataFrame(table.to_pandas())
    finally:
        if previous is None:
            conf.unset(_LOCAL_RELATION_THRESHOLD)
        else:
            conf.set(_LOCAL_RELATION_THRESHOLD, previous)


def _widen_halffloat(table: pa.Table) -> pa.Table:
    """Cast top-level float16 columns to float32, exactly and null-
    preserving.  Spark has no half-float type: left as is, the column
    would fail Arrow ingest and take the pandas bridge, which turns its
    nulls into NaN and converts row by row."""
    for i, field in enumerate(table.schema):
        if pa.types.is_float16(field.type):
            table = table.set_column(
                i, field.with_type(pa.float32()), table.column(i).cast(pa.float32())
            )
    return table


def to_arrow(df: DataFrame) -> pa.Table:
    """Arrow egress — collect the DataFrame as a ``pyarrow.Table``."""
    return df.toArrow()


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan up to the session's task slots —
    ONLY when the scan yields fewer partitions than slots.

    Small-input guard for compute-heavy per-row work (shingling,
    sketches, regex batteries, vector math): a single-row-group parquet
    file arrives as ONE partition, serializing the whole map stage on
    one core no matter how many slots exist.  At cluster scale a table
    has thousands of splits, the gate is false, and this is the
    identity — no shuffle is ever added to a big scan.  When it does
    fire, the shuffle moves exactly the rows whose per-row compute
    dominates the move cost.

    The probe is ``inputFiles()`` (file-listing metadata), not
    ``df.rdd.getNumPartitions()`` — touching ``.rdd`` forces a
    plan→RDD conversion on the driver for every call (VERDICT r2).
    File count under-counts splits (one big file → many splits), so
    the gate may also fire on a monolithic multi-split file — accepted:
    the per-row-compute stages this guards want round-robin spread
    there anyway, and multi-file tables (the 100 TB case) still skip
    it.  A non-scan DataFrame (no input files) is left untouched — its
    parallelism was already set upstream.
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < slots:
        return df.repartition(slots)
    return df


def widen_by_key(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit key-repartition to the session's task slots — the
    standing remedy for AQE's byte-based coalescing of CPU-bound
    stages (SCALE.md "AQE byte-coalescing vs CPU-bound stages").

    AQE sizes post-shuffle partitions by bytes; a grouped-map/cogroup/
    set-intersection stage over byte-small rows gets folded into one
    or two tasks and serializes.  An explicit ``repartition(n, keys)``
    is exempt from coalescing and, keyed on the grouping columns,
    satisfies the downstream distribution requirement — so it replaces
    (not adds to) the Exchange the grouped op would insert.  Apply to
    every Arrow/Python or per-row-set-op stage fed by a shuffle.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    ~``target_mb`` each and return the output file count.

    The operational fix for the classic ingest pathology — thousands of
    KB-sized files from streaming micro-batches or over-parallel writes
    make every downstream scan pay per-file open/footer costs and break
    split planning.  Sizing uses the dataset's actual on-disk bytes
    (file-listing metadata, no data read), then a round-robin
    ``repartition`` so output files are uniform.  At 100 TB this runs
    per-partition-directory (compact yesterday's partition, not the
    table).

    Writes to ``out_path`` (callers swap directories atomically —
    rename-based publish — rather than rewriting in place).
    """
    import math

    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str,
) -> None:
    """Write ``n_shards`` deterministic training shards: rows are
    range-partitioned on ``order_col`` (so shard k holds a contiguous
    key range) and sorted within each shard — the layout a sharded
    training loader expects (stable shard membership for checkpoint
    resume, sequential reads within a shard).

    Plan shape: one range Exchange (driver samples partition bounds —
    no global sort of the data) + per-shard local sort at write time.
    At 100 TB range partitioning is how you get both bounded shard
    sizes and deterministic membership; a round-robin split would load-
    balance better but shard membership would change with cluster
    parallelism, breaking resume.
    """
    (
        df.repartitionByRange(n_shards, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(df: DataFrame, col_a: str, col_b: str, bits: int = 8) -> Column:
    """Morton (Z-order) key over two numeric columns: each column is
    min-max scaled onto a 2^bits grid, then the grid coordinates'
    bits are interleaved — points close in BOTH dimensions get close
    z-values, so sorting by z clusters them into the same files and
    row groups.  That is what makes multi-dimensional min/max pruning
    work: a single-column sort gives perfect pruning on one predicate
    and none on the other; z-order gives useful pruning on both.

    The scan for min/max is one aggregate producing 4 scalars (model
    state, like the k-means centroid pin — never data).  Min-max
    scaling is skew-sensitive; for heavy-tailed columns substitute the
    profiler's quantiles (operators/profile.py) as grid boundaries —
    the interleave below is unchanged.  Expression-only (shifts, masks,
    ors inside one codegen span), no UDF.
    """
    lo_a, hi_a, lo_b, hi_b = (
        df.agg(
            F.min(col_a).cast("double"),
            F.max(col_a).cast("double"),
            F.min(col_b).cast("double"),
            F.max(col_b).cast("double"),
        ).collect()[0]
    )
    if lo_a is None or lo_b is None:
        # empty input or an all-NULL cluster column: no meaningful
        # ordering exists; a constant key keeps the write valid
        return F.lit(0).cast("long")

    def _grid(c: str, lo: float, hi: float) -> Column:
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
        # NULL values cluster at grid cell 0 — the coalesce must run
        # BEFORE least(), which skips NULL operands and would otherwise
        # send NULL rows silently into the top corner
        cell = F.coalesce(
            F.floor(scaled * ((1 << bits) - 1) + 0.5).cast("long"),
            F.lit(0).cast("long"),
        )
        return F.least(F.lit((1 << bits) - 1).cast("long"), cell)

    ga, gb = _grid(col_a, lo_a, hi_a), _grid(col_b, lo_b, hi_b)
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ga, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(gb, i).bitwiseAND(one), 2 * i + 1))
    return z


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int, bits: int = 8
) -> None:
    """Write a parquet dataset clustered by the Z-order of two columns:
    range-partition on the z-value (driver-sampled bounds — no global
    sort) and sort within each file, so every file covers a compact
    rectangle in (col_a, col_b) space and min/max stats prune scans
    with predicates on EITHER or BOTH columns.  The layout tool behind
    "cluster the corpus by (source, length)" style table maintenance;
    effectiveness is asserted by bounding-box math in
    tests/test_zorder.py."""
    (
        df.withColumn("__z", zorder_value(df, col_a, col_b, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the ``events`` table to one timestamp convention.

    Output columns (append-only, schema-adaptive):

    * ``ts``    — ``TimestampType`` at µs precision (UTC session tz)
    * ``ts_us`` — ``bigint`` epoch microseconds (== DuckDB ``epoch_us(ts)``;
      the cross-engine comparison currency, since DuckDB's parquet reader
      also lands on µs)
    * ``ts_ns`` — ``bigint`` epoch nanoseconds

    Handles both storage layouts the harness has shipped: ``timestamp[us]``
    (read as TIMESTAMP or TIMESTAMP_NTZ) and legacy ``timestamp[ns]``
    surfaced as a raw long via ``spark.sql.legacy.parquet.nanosAsLong``.
    Pure projections — no shuffle, stays inside the scan's codegen stage.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):  # legacy nanos-as-long layout
        out = (
            df.withColumn("ts_ns", F.col("ts"))
            .withColumn("ts_us", F.expr("ts div 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    else:
        # timestamp[us] layout (TIMESTAMP or TIMESTAMP_NTZ; session tz is
        # UTC, so the NTZ→TZ cast is value-identity)
        out = (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_us", F.unix_micros(F.col("ts")))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        )
    # One terminal select so column ORDER is layout-independent — the two
    # branches append ts_us/ts_ns in opposite orders, and positional ops
    # (union, select *) across layouts would silently pair them (ADVICE r2).
    return out.select(*df.columns, "ts_us", "ts_ns")


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Tables:
    """Lazy name→DataFrame mapping over the test star schema.

    Lazy so a query touching one table never plans scans of the other
    nine.  ``events.ts`` is normalized via :func:`normalize_events`
    (adds ``ts_us``/``ts_ns`` bigints next to a µs ``TimestampType``
    ``ts``, whatever the on-disk layout).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._raw: dict[str, DataFrame] = {}
        self._cache: dict[str, DataFrame] = {}

    def raw(self, name: str) -> DataFrame:
        """The table as stored, before :func:`normalize_events`.  Its
        ``schema`` is the on-disk one; reading it off the memoized handle
        starts no schema-inference job."""
        if name not in self._raw:
            self._raw[name] = self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
        return self._raw[name]

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self.raw(name)
            if name == "events":
                df = normalize_events(df)
            self._cache[name] = df
        return self._cache[name]

    def keys(self):
        return TPCH_TABLES


#: Session-scoped memo of Tables instances, keyed on (applicationId,
#: realpath(sf_dir)).  Each ``spark.read.parquet`` call costs a footer
#: read + InMemoryFileIndex build + a dozen py4j roundtrips (~30-150 ms
#: measured at sf0.1) and every query invocation used to pay it fresh
#: for every table it touches — pure driver-side METADATA work repeated
#: hundreds of times per bench/driver sweep.  Reusing the lazy
#: DataFrame HANDLE caches only schema + file listing (what Spark's own
#: catalog does for a registered table): no data, no results — every
#: action on the handle still computes from the parquet input.
#: ``fresh=True`` bypasses and replaces the entry (for callers that
#: rewrite files under the same path mid-session).
_TABLES_MEMO: dict[tuple[str, str], Tables] = {}


def load_tables(spark: SparkSession, sf_dir: str, fresh: bool = False) -> Tables:
    """Lazy table map for ``sf_dir``; also applies runtime confs (UTC
    timezone, nanos-as-long) so results are deterministic regardless of
    who constructed the session.  Memoized per (session, dir) — see
    ``_TABLES_MEMO``."""
    import os

    from fletcher_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    t = None if fresh else _TABLES_MEMO.get(key)
    if t is None or t._spark is not spark:
        t = Tables(spark, sf_dir)
        _TABLES_MEMO[key] = t
    return t
