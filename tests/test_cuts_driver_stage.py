"""Differential pin for the r13 driver-staged ``_cuts_by_key`` mode:
materialize=True now collects stats/offsets to the driver and
re-attaches them as parsed literals (operators/agg.py), so every
wrapper's staged output must equal the lazy join-back plan's output
EXACTLY (counts are longs, doubles round-trip via ``float.__repr__``)
— the same twin-differential standard as the r12 minhash HOF pin.
Edge shapes covered: heavy ties, a constant column, negative values,
sub-coarse cardinality, the all-NULL metric, and the keyed face.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fletcher_spark.operators.agg import (
    _cuts_by_key,
    exact_cut_points,
    exact_cut_points_by_key,
    exact_cut_points_multi,
)


def _canon(rows):
    return sorted(
        tuple(
            tuple(c) if isinstance(c, list) else c
            for c in r
        )
        for r in rows
    )


VALS = [
    # (name, values)
    ("plain", [float(x) for x in range(1, 101)]),
    ("ties", [1.0] * 40 + [2.0] * 5 + [3.0] * 55),
    ("constant", [7.5] * 23),
    ("negative_span", [-50.0, -1.5, 0.0, 2.25, 1e9, -3.75] * 7),
    ("tiny", [4.0, 2.0]),
]


@pytest.mark.parametrize("name,vals", VALS, ids=[n for n, _ in VALS])
@pytest.mark.parametrize("k", [2, 4, 10])
def test_unkeyed_staged_equals_lazy(spark, name, vals, k):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lazy = _canon(
        exact_cut_points(df, "x", k, n_coarse=8, materialize=False).collect()
    )
    staged = _canon(exact_cut_points(df, "x", k, n_coarse=8).collect())
    assert staged == lazy


def test_unkeyed_all_null_staged_equals_lazy(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    lazy = _canon(
        exact_cut_points(df, "x", 4, n_coarse=8, materialize=False).collect()
    )
    staged = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert staged == lazy


def test_keyed_staged_equals_lazy_including_quote_key(spark):
    rows = [
        ("web", float(v)) for v in range(50)
    ] + [
        ("book's", float(v) * 3.5 - 7) for v in range(31)
    ] + [
        ("cc", 2.0) for _ in range(11)
    ]
    df = spark.createDataFrame(rows, "source string, x double")
    lazy = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=False
        ).collect()
    )
    # materialize=True -> driver-staged literals (keys include a quote)
    staged = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=True
        ).collect()
    )
    assert staged == lazy


def test_multi_staged_equals_lazy_with_all_null_metric(spark):
    rows = [(float(i), float(i % 7), None) for i in range(60)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    lazy = _canon(
        exact_cut_points_multi(
            df, ["a", "b", "c"], 5, n_coarse=8, materialize=False
        ).collect()
    )
    staged = _canon(
        exact_cut_points_multi(df, ["a", "b", "c"], 5, n_coarse=8).collect()
    )
    assert staged == lazy


@pytest.mark.parametrize("name,vals", VALS, ids=[n for n, _ in VALS])
def test_local_fast_path_equals_forced_staged(spark, name, vals, monkeypatch):
    """r13 three-way pin: the single-job LOCAL path (default below
    LOCAL_HIST_LIMIT) must equal the distributed staged path it
    replaced.  Forcing the limit to 0 makes driver_stage take the
    staged (map-literal) tier, so both tiers stay covered after the
    local path became the default at test scale."""
    from fletcher_spark.operators import agg as A

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    local = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    monkeypatch.setattr(A, "LOCAL_HIST_LIMIT", 0)
    staged = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert local == staged


def test_local_fast_path_keyed_equals_forced_staged(spark, monkeypatch):
    """Keyed local path vs the staged tier (one string key) and vs the
    lazy plan (several keys of mixed types): the local path factorizes
    every key type through Arrow's dictionary encoding."""
    import datetime

    from fletcher_spark.operators import agg as A

    rows = [
        (f"s{i % 3}", i % 2, datetime.date(2020, 1, 1 + i % 4), float(i) * 1.25 - 7)
        for i in range(91)
    ]
    df = spark.createDataFrame(rows, "source string, g int, day date, x double")
    for keys, groups in ((["source"], 3), (["source", "g", "day"], 12)):
        local = _canon(
            exact_cut_points_by_key(df, keys, "x", 4, n_coarse=8, materialize=True).collect()
        )
        with monkeypatch.context() as m:
            m.setattr(A, "LOCAL_HIST_LIMIT", 0)
            staged = _canon(
                exact_cut_points_by_key(df, keys, "x", 4, n_coarse=8, materialize=True).collect()
            )
        assert len(local) == groups
        assert local == staged


def test_nan_values_fall_through_local_path(spark):
    """NaN histogram values must bypass the local path (their global
    rank position is coarse-bucket-dependent); the staged/lazy result
    is the contract either way."""
    vals = [1.0, 2.0, float("nan"), 3.0] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lazy = _canon(
        exact_cut_points(df, "x", 4, n_coarse=8, materialize=False).collect()
    )
    staged = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert staged == lazy


def test_non_string_key_falls_back_to_lazy_plan(spark):
    """A non-string key cannot ride the map-literal staging; the core
    must silently fall back to the join-back plan and still match."""
    rows = [(i % 3, float(i)) for i in range(45)]
    df = spark.createDataFrame(rows, "g int, x double")
    hist = df.groupBy("g", F.col("x").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    lazy = _canon(_cuts_by_key(hist, ("g",), 4, 8).collect())
    staged = _canon(_cuts_by_key(hist, ("g",), 4, 8, driver_stage=True).collect())
    assert staged == lazy
