"""Structured Streaming parity: the window transformations in
fletcher_spark/streaming/windows.py produce IDENTICAL results when fed
from ``readStream`` (availableNow trigger, complete/update modes) as
from the batch reader — the Structured Streaming contract, asserted.
"""

from __future__ import annotations

import pytest

from fletcher_spark.io import load_tables
from fletcher_spark.sources.stream import stream_events
from fletcher_spark.streaming import windows as W
from tests.conftest import SF_DIR


def _run_stream(sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _rows(df):
    return sorted([tuple(r) for r in df.collect()])


def test_stream_events_reads_schema_from_memo(spark):
    """The stream's schema comes off the ``load_tables`` handle: once the
    batch events table is loaded, building the stream starts no job."""
    batch = load_tables(spark, SF_DIR)["events"]
    sc = spark.sparkContext
    sc.setJobGroup("stream_events_build", "stream_events_build")
    try:
        ev = stream_events(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("stream_events_build") == []
    assert ev.isStreaming
    assert ev.schema == batch.schema


@pytest.mark.parametrize(
    "name,fn",
    [
        ("tumbling", lambda df: W.tumbling_agg(df, "ts", "10 minutes", "event_type")),
        ("sliding", lambda df: W.sliding_agg(df, "ts", "10 minutes", "5 minutes")),
        ("sessions", lambda df: W.session_agg(df, "ts", "30 minutes", "user_id")),
    ],
)
def test_stream_matches_batch(spark, name, fn):
    batch = fn(load_tables(spark, SF_DIR)["events"])
    expected = _rows(batch)

    stream = fn(W.with_watermark(stream_events(spark, SF_DIR), "ts", "10 days"))
    qname = f"stream_{name}"
    q = _run_stream(stream, qname)
    try:
        got = _rows(spark.sql(f"SELECT * FROM {qname}"))
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_stateful_profile_matches_batch(spark):
    """applyInPandasWithState running profile: after consuming the whole
    stream (availableNow), per-user state must equal the batch
    groupBy aggregate."""
    from pyspark.sql import functions as F

    from fletcher_spark.streaming.stateful import running_user_profile

    ev = load_tables(spark, SF_DIR)["events"]
    expected = _rows(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("total_value"),
            F.max("ts_us").alias("last_ts_us"),
        )
    )

    stream = running_user_profile(stream_events(spark, SF_DIR))
    q = (
        stream.writeStream.format("memory")
        .queryName("stateful_profile")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = _rows(spark.sql("SELECT * FROM stateful_profile"))
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_streaming_exact_dedup(spark):
    """Streaming exact dedup: dropDuplicatesWithinWatermark on a key
    derived from the payload — the streaming twin of dedup_exact.
    availableNow over a bounded source must keep exactly one row per
    key (state bounded by the watermark horizon at 100 TB)."""
    from pyspark.sql import functions as F

    ev = stream_events(spark, SF_DIR)
    keyed = ev.withColumn("k", F.col("user_id") % 50)
    deduped = W.with_watermark(keyed, "ts", "10 days").dropDuplicatesWithinWatermark(["k"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        rows = spark.sql("SELECT k, count(*) n FROM stream_dedup GROUP BY k").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    assert all(r["n"] == 1 for r in rows)


def test_transform_with_state_first_seen(spark):
    """transformWithStateInPandas dedup (Spark 4 arbitrary-state API):
    exactly one row per key over the whole stream, and the key set
    equals the batch distinct — ValueState survives across
    micro-batches.

    ENV GATE: the API's Python driver worker speaks protobuf to the
    state server; containers without google.protobuf skip (the operator
    itself is pure PySpark and runs wherever standard pyspark deps are
    installed).  Re-verified r6: no protobuf runtime or wheel exists
    anywhere on this container's disk and package installation is out
    of contract, so the skip stands; the TTL/first-seen SEMANTICS are
    driver-value-checked batch-side via ttl_first_seen_batch parity
    (events_ttl_first_seen)."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from fletcher_spark.streaming.stateful import streaming_first_seen

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    ev = stream_events(spark, SF_DIR).withColumn(
        "fp", (F.col("user_id") % 50).cast("string")
    )
    out = streaming_first_seen(ev, "fp", ("event_id",))
    q = (
        out.writeStream.format("memory")
        .queryName("tws_first_seen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        rows = spark.sql("SELECT fp, count(*) n FROM tws_first_seen GROUP BY fp").collect()
    finally:
        q.stop()
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    batch_keys = {
        str(r[0])
        for r in load_tables(spark, SF_DIR)["events"]
        .select((F.col("user_id") % 50).cast("string"))
        .distinct()
        .collect()
    }
    assert {r["fp"] for r in rows} == batch_keys
    assert all(r["n"] == 1 for r in rows)


def test_first_seen_ttl_sets_processing_time_mode(spark):
    """The TTL path must run in ProcessingTime time mode: Spark rejects
    state TTL under timeMode="None" (the r3 ADVICE bug — ttl_ms callers
    crashed the stream).  Asserted structurally on the logical plan, so
    it runs even where the protobuf runtime dep is absent."""
    from pyspark.sql import functions as F

    from fletcher_spark.streaming.stateful import streaming_first_seen

    ev = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .select(
            F.col("value").cast("string").alias("fp"),
            F.col("value").cast("string").alias("doc_id"),
        )
    )
    with_ttl = streaming_first_seen(ev, "fp", ("doc_id",), ttl_ms=3_600_000)
    plan = with_ttl._jdf.queryExecution().logical().toString()
    assert "ProcessingTime" in plan, plan.splitlines()[0]
    no_ttl = streaming_first_seen(ev, "fp", ("doc_id",))
    plan = no_ttl._jdf.queryExecution().logical().toString()
    assert "NoTime" in plan, plan.splitlines()[0]


def test_transform_with_state_first_seen_ttl(spark):
    """TTL-path execution: same first-seen dedup contract with a long
    TTL (nothing expires within the run, so output equals the no-TTL
    case) — proves ttl_ms + ProcessingTime actually executes.  Same
    protobuf env gate as test_transform_with_state_first_seen."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from fletcher_spark.streaming.stateful import streaming_first_seen

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = stream_events(spark, SF_DIR).withColumn(
        "fp", (F.col("user_id") % 50).cast("string")
    )
    out = streaming_first_seen(ev, "fp", ("event_id",), ttl_ms=24 * 3600 * 1000)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_first_seen_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        rows = spark.sql(
            "SELECT fp, count(*) n FROM tws_first_seen_ttl GROUP BY fp"
        ).collect()
    finally:
        q.stop()
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert all(r["n"] == 1 for r in rows)
    assert len(rows) == 50


class _FakeValueState:
    """Pure-Python stand-in for pyspark's ValueState implementing the
    TTL contract: a value expires ``ttl_ms`` after the update that
    wrote it (reads of expired state behave as absent)."""

    def __init__(self, ttl_ms, clock):
        self._ttl = ttl_ms
        self._clock = clock
        self._val = None
        self._expires = None

    def _live(self):
        return self._val is not None and (
            self._expires is None or self._clock() < self._expires
        )

    def exists(self):
        return self._live()

    def get(self):
        return self._val if self._live() else None

    def update(self, v):
        self._val = v
        self._expires = None if self._ttl is None else self._clock() + self._ttl

    def clear(self):
        self._val = None
        self._expires = None


class _FakeHandle:
    """Records getValueState registrations and hands out fake states."""

    def __init__(self, clock):
        self._clock = clock
        self.calls = []
        self.states = {}

    def getValueState(self, stateName, schema, ttlDurationMs=None):
        self.calls.append((stateName, schema, ttlDurationMs))
        st = _FakeValueState(ttlDurationMs, self._clock)
        self.states[stateName] = st
        return st


def test_first_seen_processor_ttl_semantics_mock_handle():
    """FirstSeen's init/handleInputRows logic driven through a fake
    StatefulProcessorHandle/ValueState — first-seen emit, duplicate
    drop, TTL-expired re-emit, and no-refresh-on-suppressed-rows — so
    the TTL state semantics are pytest-covered without the protobuf
    runtime the transformWithStateInPandas wiring needs (which stays
    env-gated above)."""
    import pandas as pd

    from fletcher_spark.streaming.stateful import make_first_seen_processor

    now = [0]
    handle = _FakeHandle(lambda: now[0])
    proc = make_first_seen_processor(["fp", "doc_id"], ttl_ms=1000)
    proc.init(handle)
    # the ttl must reach the state registration verbatim
    assert handle.calls == [("seen", "seen boolean", 1000)]

    def batch(*rows):
        # leading empty frame: the processor must skip it, not emit it
        return iter(
            [
                pd.DataFrame(columns=["fp", "doc_id"]),
                pd.DataFrame(rows, columns=["fp", "doc_id"]),
            ]
        )

    # t=0: fresh key emits exactly the first row, stringified
    out = list(proc.handleInputRows(("k1",), batch(("k1", 7), ("k1", 8)), None))
    assert len(out) == 1 and out[0].values.tolist() == [["k1", "7"]]

    # t=500: still inside the TTL — duplicate dropped
    now[0] = 500
    assert list(proc.handleInputRows(("k1",), batch(("k1", 9)), None)) == []

    # t=1500: seen-state expired (update was at t=0, ttl 1000) → re-emit
    now[0] = 1500
    out = list(proc.handleInputRows(("k1",), batch(("k1", 10)), None))
    assert len(out) == 1 and out[0].values.tolist() == [["k1", "10"]]

    # suppressed rows must NOT refresh the TTL: the t=1500 emit set the
    # expiry to 2500; a drop at t=2000 leaves it there, so t=2600 emits
    now[0] = 2000
    assert list(proc.handleInputRows(("k1",), batch(("k1", 11)), None)) == []
    now[0] = 2600
    out = list(proc.handleInputRows(("k1",), batch(("k1", 12)), None))
    assert len(out) == 1 and out[0].values.tolist() == [["k1", "12"]]

    # an all-empty input (the Arrow serializer does produce empty
    # frames) must NOT mark the key seen — the true first row in a
    # later batch still emits
    proc2 = make_first_seen_processor(["fp", "doc_id"], ttl_ms=None)
    handle2 = _FakeHandle(lambda: now[0])
    proc2.init(handle2)
    assert handle2.calls == [("seen", "seen boolean", None)]
    empty = iter([pd.DataFrame(columns=["fp", "doc_id"])])
    assert list(proc2.handleInputRows(("k2",), empty, None)) == []
    out = list(proc2.handleInputRows(("k2",), batch(("k2", 1)), None))
    assert len(out) == 1 and out[0].values.tolist() == [["k2", "1"]]
    # ...and without a TTL the marker never expires
    now[0] = 10**12
    assert list(proc2.handleInputRows(("k2",), batch(("k2", 2)), None)) == []
    assert proc.close() is None and proc2.close() is None


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join (click attribution): watermarked
    view/click streams joined within a 15-minute bound must produce
    exactly the batch interval_join rows.  The two-sided time bound is
    what lets the state store evict (watermark + delay) — asserted
    semantically here, state-size reasoning documented in
    streaming/windows.py:interval_join."""
    from pyspark.sql import functions as F

    def split_sides(df):
        views = df.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("v_ts"),
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return views, clicks

    ev = load_tables(spark, SF_DIR)["events"]
    bv, bc = split_sides(ev)
    joined_batch = bv.join(
        bc,
        (bv["user_id"] == bc["c_user"])
        & (bc["c_ts"] >= bv["v_ts"])
        & (bc["c_ts"] <= bv["v_ts"] + F.expr("INTERVAL 15 minutes")),
    ).select("view_id", "click_id", "user_id")
    expected = _rows(joined_batch)

    sv, sc = split_sides(stream_events(spark, SF_DIR))
    sv = W.with_watermark(sv, "v_ts", "10 days")
    sc = W.with_watermark(sc, "c_ts", "10 days")
    joined = sv.join(
        sc,
        (sv["user_id"] == sc["c_user"])
        & (sc["c_ts"] >= sv["v_ts"])
        & (sc["c_ts"] <= sv["v_ts"] + F.expr("INTERVAL 15 minutes")),
    ).select("view_id", "click_id", "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = _rows(spark.sql("SELECT view_id, click_id, user_id FROM stream_attrib"))
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch: the production sink escape hatch (per-microbatch
    batch-DataFrame writes with the checkpoint guaranteeing each batch
    id is delivered once per successful run) — here aggregating each
    micro-batch and landing it as parquet."""
    from pyspark.sql import functions as F

    ev = stream_events(spark, SF_DIR)
    out = str(tmp_path / "sink")

    def write_batch(bdf, bid: int):
        (bdf.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(f"{out}/batch={bid}"))

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    back = spark.read.parquet(out)
    total = sum(r["n"] for r in back.collect())
    assert total == load_tables(spark, SF_DIR)["events"].count()


def test_watermark_drops_late_data(spark, tmp_path):
    """REAL late-data semantics (the parity tests use a 10-day watermark
    where nothing is ever late): three micro-batches via
    maxFilesPerTrigger=1, a 10-minute watermark, and a row arriving in
    batch 3 that is hours behind the stream.  It must be DROPPED — the
    closed hour-0 window keeps the batch-1 count and is never re-opened.

    The late row is sent TWO batches after the watermark-advancing
    events: Spark applies the late filter with the watermark as of the
    PREVIOUS trigger (the progress log's eventTime.watermark is the
    post-batch value), so a one-batch-later arrival is still merged —
    verified empirically before writing this test."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "stream_src"
    src.mkdir()
    H = 3_600_000_000  # one hour in microseconds
    base = 1_700_000_000_000_000

    def write(name, rows, mtime):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([base + r for r in rows], pa.timestamp("us")),
                    "value": pa.array([1.0] * len(rows)),
                }
            ),
            str(src / name),
        )
        os.utime(str(src / name), (mtime, mtime))

    now = time.time()
    # batch 1: three events in hour 0, one in hour 3 (advances event time)
    write("a.parquet", [0, H // 4, H // 2, 3 * H], now - 100)
    # batch 2: on-time event in hour 4 (watermark 3h−10m now in force)
    write("b.parquet", [4 * H], now - 50)
    # batch 3: one LATE event back in hour 0 + on-time hour 5
    write("c.parquet", [H // 3, 5 * H], now - 10)

    sdf = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("w_start_s"), "n")
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        rows = [
            (r["w_start_s"], r["n"])
            for r in spark.sql("SELECT * FROM late_drop").collect()
        ]
    finally:
        q.stop()
    h0 = (base // 1_000_000) // 3600 * 3600  # hour-aligned window start
    h0_rows = [n for w, n in rows if w == h0]
    # the hour-0 window is emitted exactly once, with its 3 on-time
    # events — the late batch-3 row neither merged nor re-opened it
    assert h0_rows == [3], rows


def test_checkpoint_recovery_resumes_without_reprocessing(spark, tmp_path):
    """Exactly-once across a RESTART: a file-source stream consumes two
    files, stops, a third file lands, and a new query started from the
    SAME checkpoint must deliver only the new file — the offset log
    remembers consumed files, so a crashed 100 TB ingest job never
    re-deduplicates yesterday's data on resume."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def land(name: str, ids: list[int]):
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "src_file": pa.array([name] * len(ids))}),
            str(src / f"{name}.parquet"),
        )

    def run_stream():
        df = (
            spark.readStream.schema("id long, src_file string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    land("f1", [1, 2, 3])
    land("f2", [4, 5])
    run_stream()
    first = sorted(r["id"] for r in spark.read.parquet(sink).collect())
    assert first == [1, 2, 3, 4, 5]

    land("f3", [6, 7])
    run_stream()  # same checkpoint: must pick up ONLY f3
    back = spark.read.parquet(sink).collect()
    assert sorted(r["id"] for r in back) == [1, 2, 3, 4, 5, 6, 7]  # no dups
    assert {r["src_file"] for r in back if r["id"] >= 6} == {"f3"}


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """``dropDuplicatesWithinWatermark``: duplicate keys arriving within
    the watermark delay are dropped WITHOUT keeping state forever — the
    bounded-state streaming dedup (vs ``dropDuplicates``, whose state
    grows unboundedly and OOMs a long-running 100 TB ingest).  The flip
    side of bounded state is bounded guarantee: once the watermark
    passes a key's expiry, the SAME key is emitted again — asserted
    here deliberately, because relying on cross-epoch dedup from this
    operator is a correctness bug (that job needs the batch
    first-seen join, queries/dedup.py:dedup_first_seen_batch).
    """
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "dedup_src"
    src.mkdir()
    H = 3_600_000_000  # one hour in microseconds
    M = 60_000_000  # one minute
    base = 1_700_000_000_000_000

    def write(name, rows, mtime):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([i for i, _ in rows], pa.int64()),
                    "ts": pa.array([base + t for _, t in rows], pa.timestamp("us")),
                }
            ),
            str(src / name),
        )
        os.utime(str(src / name), (mtime, mtime))

    now = time.time()
    # batch 1: ids 1,2 + an in-batch duplicate of 1 (within watermark)
    write("a.parquet", [(1, 0), (2, 0), (1, 10 * M)], now - 100)
    # batch 2: cross-batch duplicate of 1 (state still live) + id 3 far
    # ahead, advancing the watermark past id 2's expiry (ts + 1h)
    write("b.parquet", [(1, 30 * M), (3, 3 * H)], now - 75)
    # batch 3: another advancing event — the watermark IN FORCE lags one
    # trigger (same empirical lag as test_watermark_drops_late_data), so
    # id 2's state eviction needs this extra batch to take effect
    write("c.parquet", [(4, 4 * H)], now - 50)
    # batch 4: id 2 again, now AFTER its dedup state was evicted
    write("d.parquet", [(2, 3 * H + 30 * M)], now - 10)

    sdf = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        ids = sorted(
            r["id"] for r in spark.sql("SELECT id FROM dedup_wm").collect()
        )
    finally:
        q.stop()
    # 1 once (both duplicates dropped), 3 and 4 once, 2 TWICE (evicted
    # state allows the post-expiry re-arrival through)
    assert ids == [1, 2, 2, 3, 4], ids


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-STATIC join: a streaming fact source enriched against a
    static dimension (the standard lookup-join in an ingest job; the
    static side is re-resolvable per micro-batch, no state store).
    Result must equal the identical batch join."""
    import pyspark.sql.functions as F

    from fletcher_spark.io import load_tables
    from tests.conftest import SF_DIR

    t = load_tables(spark, SF_DIR)
    dim = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    batch = (
        t["events"]
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["c_mktsegment"]: r["n"] for r in batch.collect()}

    from fletcher_spark.sources.stream import stream_events

    stream = (
        stream_events(spark, SF_DIR)
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_static")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            r["c_mktsegment"]: r["n"]
            for r in spark.sql("SELECT * FROM stream_static").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_streaming_cms_grid_matches_batch(spark):
    """The Count-Min grid is a pure groupBy-count, so maintaining it
    under Structured Streaming (complete mode) is the same plan — and
    because CMS merge is cell-wise addition, the micro-batch-maintained
    grid must equal the batch-built one exactly.  This is the streaming
    leg of the sketch-merge story (operators/sketch.py)."""
    from fletcher_spark.operators import sketch as SK
    from fletcher_spark.sources.stream import stream_events

    batch = SK.cms_build(load_tables(spark, SF_DIR)["events"], "user_id", 4, 64)
    want = {(r["j"], r["bucket"]): r["c"] for r in batch.collect()}

    stream = SK.cms_build(stream_events(spark, SF_DIR), "user_id", 4, 64)
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_cms")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r["j"], r["bucket"]): r["c"]
            for r in spark.sql("SELECT * FROM stream_cms").collect()
        }
    finally:
        q.stop()
    assert got == want
    assert len(got) > 0


def test_ttl_first_seen_batch_matches_state_machine(spark):
    """ttl_first_seen_batch == a literal replay of the streaming
    ValueState-with-TTL machine (emit iff state absent/expired; only
    emits refresh state).  Input includes duplicate timestamps, an
    exact-boundary gap (== ttl, suppressed: chain needs strictly >),
    and a case where first-per-bucket dedup would disagree."""
    from fletcher_spark.streaming.stateful import ttl_first_seen_batch

    ttl = 100
    rows = [
        # user 1: chain 0 -> 150 -> 260; 100 (== 0+ttl) suppressed,
        # 90/150-dup suppressed.  Bucketed dedup (buckets [0,100),
        # [100,200), [200,300)) would emit 0,100,260 — different chain.
        (1, 0), (1, 90), (1, 100), (1, 150), (1, 150), (1, 260),
        # user 2: single event
        (2, 500),
        # user 3: all within one ttl of the first
        (3, 10), (3, 50), (3, 110),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {
        r["user_id"]: (r["n_emitted"], r["first_us"], r["last_emit_us"])
        for r in ttl_first_seen_batch(df, "user_id", "ts_us", ttl).collect()
    }

    def simulate(ts_list, ttl_us):
        state_exp, out = None, []
        for t in sorted(ts_list):
            if state_exp is not None and t <= state_exp:
                continue  # state alive -> suppressed, NOT refreshed
            out.append(t)
            state_exp = t + ttl_us
        return len(out), out[0], out[-1]

    by_user: dict[int, list[int]] = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    expected = {u: simulate(ts, ttl) for u, ts in by_user.items()}
    assert got == expected, (got, expected)
    assert got[1] == (3, 0, 260), got  # the chain, not the buckets


def test_streaming_histogram_cut_points_match_batch(spark):
    """Streaming leg of the cut-point story: the value HISTOGRAM behind
    exact_cut_points is a pure groupBy-count, so maintaining it under
    Structured Streaming (complete mode) and deriving cut points from
    the maintained state must equal the batch cuts exactly — quantile
    state at 100 TB is a mergeable histogram, not a buffered sort."""
    from pyspark.sql import functions as F

    from fletcher_spark.operators.agg import exact_cut_points
    from fletcher_spark.sources.stream import stream_events

    ev = load_tables(spark, SF_DIR)["events"]
    want = exact_cut_points(ev, "value", 4).collect()[0]

    shist = (
        stream_events(spark, SF_DIR)
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("value").cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        shist.writeStream.format("memory")
        .queryName("stream_value_hist")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        maintained = spark.sql("SELECT * FROM stream_value_hist")
        got = exact_cut_points(None, "", 4, prehist=maintained).collect()[0]
    finally:
        q.stop()
    assert got["cuts"] == want["cuts"] and got["n"] == want["n"], (got, want)


def test_ttl_first_seen_batch_string_keys(spark):
    """The key column's output type derives from the input schema —
    string dedup fingerprints (the streaming_first_seen default shape)
    must work, not just long user ids."""
    from fletcher_spark.streaming.stateful import ttl_first_seen_batch

    df = spark.createDataFrame(
        [("a", 0), ("a", 50), ("a", 200), ("b", 10)],
        "fp string, ts_us long",
    )
    got = {
        r["fp"]: (r["n_emitted"], r["first_us"], r["last_emit_us"])
        for r in ttl_first_seen_batch(df, "fp", "ts_us", 100).collect()
    }
    assert got == {"a": (2, 0, 200), "b": (1, 10, 10)}, got


def test_streaming_incremental_substring_dedup_matches_one_shot(spark, tmp_path):
    """The daily-crawl curation loop as a STREAM: documents arrive in
    micro-batches (maxFilesPerTrigger=1); foreachBatch marks each batch
    occurrence that duplicates any gram in the ACCUMULATED index ∪ the
    current batch (prefix canonical-first), then appends the batch's
    grams to the index.  With arrival order == id order, the union of
    per-batch marks must equal substring_dedup's one-shot corpus-wide
    marking — streamed ingest loses nothing vs a full re-run.  Plants:
    a cross-batch infix copy, a cross-batch whole-doc copy, and an
    intra-doc repeat arriving last."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fletcher_spark.pipeline.dedup import gram_occurrences, substring_dedup

    K = 4
    docs = {
        1: "a1 a2 a3 a4 a5 a6",
        2: "b1 b2 b3 b4 b5 b6",
        3: "c1 a2 a3 a4 a5 c2",            # infix copy of doc 1 pos 2-5
        4: "d1 d2 d3 d4 d5",               # unique
        5: "b1 b2 b3 b4 b5 b6",            # whole-doc copy of doc 2
        6: "x1 x2 x3 x4 y1 x1 x2 x3 x4",   # intra-doc repeat
    }
    batches = [(1, 2), (3, 4), (5, 6)]

    src = tmp_path / "docs_src"
    src.mkdir()
    import time as _time

    now = _time.time()
    for i, ids in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(list(ids), pa.int64()),
                    "text": pa.array([docs[i_] for i_ in ids]),
                }
            ),
            str(src / f"b{i}.parquet"),
        )
        os.utime(str(src / f"b{i}.parquet"), (now - 100 + i, now - 100 + i))

    idx_dir = str(tmp_path / "gram_index")
    marks_dir = str(tmp_path / "marks")

    def process(bdf, bid: int):
        occ_b = gram_occurrences(bdf, "doc_id", "text", K)
        if os.path.isdir(idx_dir):
            prior = bdf.sparkSession.read.parquet(idx_dir)
            all_occ = prior.unionByName(occ_b)
        else:
            all_occ = occ_b
        canon = (
            all_occ.groupBy("gram")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min(F.struct("doc_id", "pos")).alias("canon"),
            )
            .filter(F.col("c") >= 2)
        )
        marked = (
            occ_b.join(canon, "gram")
            .filter(F.struct("doc_id", "pos") != F.col("canon"))
            .select("doc_id", "pos")
        )
        marked.write.mode("append").parquet(marks_dir)
        occ_b.write.mode("append").parquet(idx_dir)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    # reconstruct per-doc output from the streamed marks (island merge
    # in plain python — the spans are tiny) ...
    marks: dict[int, set] = {}
    for r in spark.read.parquet(marks_dir).collect():
        marks.setdefault(r["doc_id"], set()).add(r["pos"])
    streamed = {}
    for i, text in docs.items():
        ts = text.split(" ")
        covered = set()
        spans = []
        for p in sorted(marks.get(i, ())):
            a, b = p, p + K - 1
            if spans and a <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], b))
            else:
                spans.append((a, b))
        for a, b in spans:
            covered.update(range(a, b + 1))
        clean = " ".join(t for j, t in enumerate(ts, start=1) if j not in covered)
        streamed[i] = (len(ts), len(spans), len(covered), clean)

    # ... and compare with the one-shot corpus-wide operator
    all_df = spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")
    one_shot = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_dup_tokens"], r["text_clean"])
        for r in substring_dedup(all_df, "doc_id", "text", K).collect()
    }
    assert streamed == one_shot
    # the plants actually fired: docs 3, 5, 6 lost spans
    assert one_shot[3][2] == 4 and one_shot[5][2] == 6 and one_shot[6][2] == 4
