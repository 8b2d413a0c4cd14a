"""Unit tests for the operator library — semantics the oracle suite
can't see: pandas-flavored skipna reductions, Arrow interchange, type
mapping, immutable setitem.

Mirrors the reference's kernel-level tests (SURVEY.md §5 layer 3:
tests/test_algorithms.py, tests/test_boolean.py).
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fletcher_spark.operators import agg as A
from fletcher_spark.operators import core as C
from fletcher_spark.operators import encoding as E


@pytest.fixture(scope="module")
def bool_df(spark):
    # id groups: all-true, all-false, mixed, with-null, all-null
    rows = [
        ("t", True), ("t", True),
        ("f", False), ("f", False),
        ("m", True), ("m", False),
        ("n", True), ("n", None),
        ("fn", False), ("fn", None),
        ("nn", None), ("nn", None),
    ]
    return spark.createDataFrame(rows, "g string, b boolean")


def _collect_map(df, key="g", val="v"):
    return {r[key]: r[val] for r in df.collect()}


def test_any_skipna_true(bool_df):
    """pandas semantics: nulls skipped; all-null → False."""
    out = _collect_map(bool_df.groupBy("g").agg(A.any_("b").alias("v")))
    assert out == {"t": True, "f": False, "m": True, "n": True, "fn": False, "nn": False}


def test_any_skipna_false(bool_df):
    """Kleene: True if any true; else NULL if any null; else False."""
    out = _collect_map(bool_df.groupBy("g").agg(A.any_("b", skipna=False).alias("v")))
    assert out == {"t": True, "f": False, "m": True, "n": True, "fn": None, "nn": None}


def test_all_skipna_true(bool_df):
    """pandas: 'True unless a valid False'; all-null → True."""
    out = _collect_map(bool_df.groupBy("g").agg(A.all_("b").alias("v")))
    assert out == {"t": True, "f": False, "m": False, "n": True, "fn": False, "nn": True}


def test_all_skipna_false(bool_df):
    out = _collect_map(bool_df.groupBy("g").agg(A.all_("b", skipna=False).alias("v")))
    assert out == {"t": True, "f": False, "m": False, "n": None, "fn": False, "nn": None}


def test_reductions_skipna_false_poisons(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", None), ("b", 2.0)], "g string, x double")
    out = df.groupBy("g").agg(
        A.sum_("x", skipna=False).alias("s"), A.mean("x", skipna=False).alias("m")
    )
    got = {r["g"]: (r["s"], r["m"]) for r in out.collect()}
    assert got == {"a": (None, None), "b": (2.0, 2.0)}


def test_mean_null_handling_not_reference_bug(spark):
    """Reference divides by total length incl. nulls (fletcher/base.py:504-505
    bug); we must use SQL semantics: mean of [2.0, None] is 2.0, not 1.0."""
    df = spark.createDataFrame([(2.0,), (None,)], "x double")
    assert df.agg(A.mean("x").alias("m")).collect()[0]["m"] == 2.0


def test_set_where_immutable_setitem(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string")
    out = C.set_where(df, "s", F.col("id") == 2, "Z")
    assert sorted((r.id, r.s) for r in out.collect()) == [(1, "a"), (2, "Z"), (3, "c")]


def test_factorize_dense_and_na_sentinel(spark):
    df = spark.createDataFrame([("b",), ("a",), (None,), ("b",)], "v string")
    out = E.factorize(df, "v")
    got = sorted((r.v, r.code) for r in out.collect() if r.v is not None)
    assert got == [("a", 0), ("b", 1), ("b", 1)]
    assert [r.code for r in out.collect() if r.v is None] == [-1]


def test_concat_unionByName(spark):
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    b = spark.createDataFrame([("y", 2)], "s string, id int")  # reordered cols
    out = E.concat([a, b])
    assert sorted((r.id, r.s) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_flatten_nested(spark):
    df = spark.createDataFrame([Row(x=[[1, 2], [3]]), Row(x=[[], [4]])])
    out = df.select(C.flatten_nested("x").alias("f"))
    assert sorted(tuple(r.f) for r in out.collect()) == [(1, 2, 3), (4,)]


def test_arrow_roundtrip(spark):
    """pandas_from_arrow / __arrow_array__ analog
    (/root/reference/tests/test_pyarrow_roundtrip.py:11-25)."""
    from fletcher_spark.io import from_arrow, to_arrow

    table = pa.table(
        {
            "i": pa.array([1, 2, None], pa.int64()),
            "s": pa.array(["a", None, "c"], pa.string()),
            "l": pa.array([[1.0], None, [2.0, 3.0]], pa.list_(pa.float64())),
        }
    )
    df = from_arrow(spark, table)
    back = to_arrow(df.orderBy("i"))  # nulls first: (None,"c"), (1,"a"), (2,None)
    assert back.column("s").to_pylist() == ["c", "a", None]
    got = {r["i"]: (r["s"], r["l"]) for r in df.collect()}
    assert got[1] == ("a", [1.0])
    assert got[2] == (None, None) or got[2][0] is None


_LRT = "spark.sql.execution.arrow.localRelationThreshold"


@pytest.mark.parametrize("caller_value", [None, "1234"], ids=["default", "explicit"])
def test_from_arrow_ships_batches_not_local_relation(spark, caller_value):
    """Non-empty ingest plans a LogicalRDD (Catalyst never sees the rows)
    and leaves the caller's localRelationThreshold as it found it."""
    from fletcher_spark.io import from_arrow

    if caller_value is not None:
        spark.conf.set(_LRT, caller_value)
    try:
        df = from_arrow(spark, pa.table({"k": pa.array([1, 2, 3])}))
        qe = df._jdf.queryExecution()
        assert qe.analyzed().getClass().getSimpleName() == "LogicalRDD"
        assert "LocalTableScan" not in qe.executedPlan().toString()
        assert spark.conf.get(_LRT, None) == caller_value
    finally:
        spark.conf.unset(_LRT)


@pytest.mark.parametrize("caller_value", [None, "1234"], ids=["default", "explicit"])
def test_from_arrow_restores_threshold_when_ingest_raises(spark, caller_value):
    """A union column fails both the Arrow path (PySparkTypeError) and the
    pandas bridge; the threshold is restored all the same."""
    from fletcher_spark.io import from_arrow

    union = pa.UnionArray.from_sparse(
        pa.array([0, 1], pa.int8()), [pa.array([1, 2]), pa.array(["a", "b"])]
    )
    if caller_value is not None:
        spark.conf.set(_LRT, caller_value)
    try:
        with pytest.raises((TypeError, pa.ArrowNotImplementedError)):
            from_arrow(spark, pa.table({"u": union}))
        assert spark.conf.get(_LRT, None) == caller_value
    finally:
        spark.conf.unset(_LRT)


def test_from_arrow_halffloat_widens_to_float_keeping_nulls(spark):
    """float16 has no Spark type: it is cast to float32 in Arrow, so a
    null stays null and ingest stays on the record-batch path."""
    import numpy as np

    from fletcher_spark.io import from_arrow, to_arrow

    h = pa.array(np.array([1.5, 0.0], dtype=np.float16), mask=np.array([False, True]))
    df = from_arrow(spark, pa.table({"k": [0, 1], "h": h}))
    assert df.schema["h"].dataType.simpleString() == "float"
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
    assert to_arrow(df).sort_by("k").column("h").to_pylist() == [1.5, None]
    assert spark.conf.get(_LRT, None) is None


def _nulls_table() -> pa.Table:
    import datetime
    import decimal

    n = [None, None]
    return pa.table(
        {
            "k": pa.array([0, 1, 2], pa.int64()),
            "i": pa.array([1, None, 3], pa.int32()),
            "f": pa.array([None, 2.5, float("nan")], pa.float64()),
            "s": pa.array(["a", None, ""], pa.string()),
            "b": pa.array([True, None, False], pa.bool_()),
            "ts": pa.array(
                [datetime.datetime(2020, 1, 2, 3, 4, 5, 6), *n], pa.timestamp("us", "UTC")
            ),
            "d": pa.array([*n, datetime.date(1999, 12, 31)], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.25"), *n], pa.decimal128(10, 2)),
            "bin": pa.array([None, b"\x00\xff", b""], pa.binary()),
            "l": pa.array([[1.0, None], None, []], pa.list_(pa.float64())),
            "st": pa.array([{"x": 1, "y": None}, None, {"x": None, "y": "z"}],
                           pa.struct([("x", pa.int64()), ("y", pa.string())])),
            "dict": pa.array(["p", None, "p"]).dictionary_encode(),
        }
    )


def _nan_free(t: pa.Table) -> pa.Table:
    """NaN compares unequal to itself in ``Table.equals``; swap it for a
    sentinel so a NaN that survived the round trip compares equal."""
    import pyarrow.compute as pc

    for i, f in enumerate(t.schema):
        if pa.types.is_floating(f.type):
            col = t.column(i)
            t = t.set_column(i, f, pc.if_else(pc.is_nan(col), -1e300, col))
    return t


@pytest.mark.parametrize(
    "make",
    [
        lambda: _nulls_table().slice(0, 0),
        lambda: _nulls_table().to_batches()[0],
        _nulls_table,
        lambda: pa.table({"k": pa.array(range(50_000), pa.int64()),
                          "v": pa.array([f"r{i}" for i in range(50_000)])}),
    ],
    ids=["empty", "record_batch", "nulls", "50k"],
)
def test_from_arrow_parity(spark, make):
    """to_arrow(from_arrow(t)) gives t back, after Spark's type mapping:
    dictionary collapses to its value type; everything else here maps
    to itself.  A multi-batch table becomes one partition per batch."""
    import math

    from fletcher_spark.io import from_arrow, to_arrow

    data = make()
    df = from_arrow(spark, data)
    t = pa.Table.from_batches([data]) if isinstance(data, pa.RecordBatch) else data
    back = to_arrow(df).sort_by("k")
    fields = [
        pa.field(f.name, f.type.value_type if pa.types.is_dictionary(f.type) else f.type)
        for f in t.schema
    ]
    assert back.schema.types == [f.type for f in fields]
    assert _nan_free(back).equals(_nan_free(t.cast(pa.schema(fields)).cast(back.schema)))
    if t.num_rows == 50_000:
        per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        assert df.rdd.getNumPartitions() == math.ceil(t.num_rows / per_batch)


def test_type_mapping_roundtrip():
    from fletcher_spark.types import arrow_to_spark_type, spark_to_arrow_type
    from pyspark.sql import types as T

    cases = {
        pa.bool_(): T.BooleanType(),
        pa.int8(): T.ByteType(),
        pa.uint8(): T.ShortType(),          # widened
        pa.uint64(): T.DecimalType(20, 0),  # widened
        pa.float16(): T.FloatType(),        # widened
        pa.string(): T.StringType(),
        pa.list_(pa.int32()): T.ArrayType(T.IntegerType()),
        pa.dictionary(pa.int32(), pa.string()): T.StringType(),  # collapsed
        pa.struct([pa.field("a", pa.int64())]): T.StructType(
            [T.StructField("a", T.LongType(), True)]
        ),
    }
    for at, st in cases.items():
        assert arrow_to_spark_type(at) == st
    # canonical inverses
    assert spark_to_arrow_type(T.StringType()) == pa.string()
    assert spark_to_arrow_type(T.ArrayType(T.DoubleType())) == pa.list_(pa.float64())


def test_median_approx_close(spark):
    df = spark.range(0, 10001).select(F.col("id").cast("double").alias("x"))
    exact, approx = df.agg(
        A.median("x").alias("m"), A.median_approx("x").alias("a")
    ).collect()[0]
    assert abs(exact - approx) <= 1.0


def test_salted_aggregation_matches_direct(spark):
    """Skew-salted two-phase aggregates must equal their direct forms."""
    from fletcher_spark.io import load_tables
    from fletcher_spark.operators import skew
    from tests.conftest import SF_DIR

    ev = load_tables(spark, SF_DIR)["events"].select("user_id", "event_type")

    direct_counts = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted_counts = {
        r["user_id"]: r["n"] for r in skew.salted_count(ev, "user_id").collect()
    }
    assert salted_counts == direct_counts

    direct_distinct = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n"))
        .collect()
    }
    salted_distinct = {
        r["user_id"]: r["n_distinct"]
        for r in skew.salted_distinct_count(ev, "user_id", "event_type").collect()
    }
    assert salted_distinct == direct_distinct


@pytest.mark.parametrize("limit", [4_000_000, 0], ids=["local-uf", "distributed"])
def test_connected_components_topologies(spark, monkeypatch, limit):
    """Chain, star, and singleton-pair components all collapse to the
    min id — the case the corpus oracle can't exercise (its planted
    near-dups are all size-2 pairs).  Both execution paths (driver
    union-find under the size gate; iterative hash-min above it) must
    agree exactly."""
    from fletcher_spark.operators import graph as G

    edges = spark.createDataFrame(
        [
            (10, 20), (20, 30), (30, 40),  # chain 10-20-30-40
            (100, 101), (100, 102), (100, 103),  # star centered on 100
            (7, 8),  # plain pair
        ],
        "id1 long, id2 long",
    )
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", limit)
    got = {r["id"]: r["label"] for r in G.connected_components(edges).collect()}
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10,
        100: 100, 101: 100, 102: 100, 103: 100,
        7: 7, 8: 7,
    }


@pytest.mark.parametrize("limit", [4_000_000, 0], ids=["local-uf", "distributed"])
def test_connected_components_merge_two_chains(spark, monkeypatch, limit):
    """Two chains bridged by one edge merge into a single component
    (requires >1 propagation round: min must travel the bridge)."""
    from fletcher_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 24), (24, 28), (9, 20)],
        "id1 long, id2 long",
    )
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", limit)
    got = {r["id"]: r["label"] for r in G.connected_components(edges).collect()}
    assert set(got.values()) == {1}
    assert set(got) == {1, 5, 9, 20, 24, 28}


def test_connected_components_long_chain_distributed(spark, monkeypatch):
    """A 30-vertex chain with the local gate forced off: the min label
    must travel the full diameter, crossing the localCheckpoint lineage
    cut every 5 rounds (operators/graph.py).  Plain hash-min moves the
    label ONE hop per round and silently returned wrong labels here;
    the pointer-jump step (label ← label[label]) makes rounds
    O(log diameter), so 30 vertices converge well inside
    max_rounds=15."""
    from fletcher_spark.operators import graph as G

    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id1 long, id2 long"
    )
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", 0)
    got = {r["id"]: r["label"] for r in G.connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


@pytest.mark.parametrize("limit", [4_000_000, 0], ids=["local-uf", "distributed"])
def test_connected_components_null_edges_dropped(spark, monkeypatch, limit):
    """Null endpoints are filtered before branching, so both paths agree
    on malformed input instead of diverging (ADVICE r2)."""
    from fletcher_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (2, 5)], "id1 long, id2 long"
    )
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", limit)
    got = {r["id"]: r["label"] for r in G.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 5: 1}


def test_connected_components_random_graph_paths_agree(spark, monkeypatch):
    """Randomized differential check: on a 2000-edge random graph with
    many components, chains, and cycles, the distributed pointer-jump
    path must produce EXACTLY the labels the driver union-find does —
    the strongest equivalence evidence short of a formal proof, and the
    kind of topology (mixed component sizes) the hand-built cases
    can't cover."""
    import random

    from fletcher_spark.operators import graph as G

    rng = random.Random(20260813)
    edges = [
        (rng.randrange(1500), rng.randrange(1500)) for _ in range(2000)
    ]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", 10**9)
    local = {r["id"]: r["label"] for r in G.connected_components(df).collect()}
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", 0)
    dist = {r["id"]: r["label"] for r in G.connected_components(df).collect()}
    assert local == dist
    assert len(local) > 100


@pytest.mark.parametrize("limit", [4_000_000, 0], ids=["local-uf", "distributed"])
def test_connected_components_string_ids(spark, monkeypatch, limit):
    """String vertex ids (document fingerprints) work on both paths —
    the Arrow/numpy union-find factorizes ids, it does not assume
    int64."""
    from fletcher_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id1 string, id2 string"
    )
    monkeypatch.setattr(G, "LOCAL_EDGE_LIMIT", limit)
    got = {r["id"]: r["label"] for r in G.connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_exact_cut_points_matches_sorted_rank_definition(spark):
    """cut_i = smallest value whose cumulative count >= ceil(i*n/k),
    checked against a driver-side sort on a tie-heavy input."""
    import math

    from pyspark.sql import functions as F

    from fletcher_spark.operators.agg import assign_cut_buckets, exact_cut_points

    vals = [1.0] * 7 + [2.0] * 3 + [5.0] * 5 + [9.0] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = exact_cut_points(df, "x", 4, n_coarse=8).collect()[0]
    n = len(vals)
    s = sorted(vals)
    expected = [s[math.ceil(i * n / 4) - 1] for i in (1, 2, 3)]
    assert row["cuts"] == expected and row["n"] == n, (row, expected)

    # bucket assignment: ties share a bucket; 1 + |cuts < x| semantics
    out = (
        df.crossJoin(
            F.broadcast(
                exact_cut_points(df, "x", 4, n_coarse=8).select("cuts")
            )
        )
        .select("x", assign_cut_buckets("x").alias("b"))
        .collect()
    )
    got = {(r["x"], r["b"]) for r in out}
    assert got == {(1.0, 1), (2.0, 2), (5.0, 3), (9.0, 4)}, got


def test_exact_cut_points_constant_column(spark):
    """Degenerate span (all values equal): every cut equals the value,
    every row lands in bucket 1."""
    from fletcher_spark.operators.agg import exact_cut_points

    df = spark.createDataFrame([(3.5,)] * 10, "x double")
    row = exact_cut_points(df, "x", 5).collect()[0]
    assert row["cuts"] == [3.5] * 4 and row["n"] == 10


def test_exact_cut_points_multi_equals_per_column(spark):
    """The melted multi-column pass must produce exactly the
    single-column operator's cuts for every metric (rank arithmetic
    only — no FP summation, so bit-equal)."""
    from fletcher_spark.operators.agg import exact_cut_points, exact_cut_points_multi

    df = spark.createDataFrame(
        [(float(i % 17), float((i * 7) % 23), float(i)) for i in range(200)],
        "a double, b double, c double",
    )
    multi = exact_cut_points_multi(df, ["a", "b", "c"], 5, n_coarse=16).collect()[0]
    for col in ("a", "b", "c"):
        single = exact_cut_points(df, col, 5, n_coarse=16).collect()[0]
        assert multi[f"{col}_cuts"] == single["cuts"], col


def test_exact_cut_points_multi_all_null_metric_degenerates_to_bucket_1(spark):
    """An all-NULL metric yields EMPTY cuts (not NULL), keeping
    assign_cut_buckets inside its 1..k contract."""
    from pyspark.sql import functions as F

    from fletcher_spark.operators.agg import assign_cut_buckets, exact_cut_points_multi

    df = spark.createDataFrame(
        [(float(i), None) for i in range(20)], "a double, b double"
    )
    row = exact_cut_points_multi(df, ["a", "b"], 4, n_coarse=8).collect()[0]
    assert row["b_cuts"] == []
    assert len(row["a_cuts"]) == 3
    out = (
        df.crossJoin(
            F.broadcast(exact_cut_points_multi(df, ["a", "b"], 4, n_coarse=8))
        )
        .select(assign_cut_buckets("b", "b_cuts").alias("bb"))
        .distinct()
        .collect()
    )
    assert {r["bb"] for r in out} == {1}, out
