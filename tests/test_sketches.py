"""Sketch invariants the oracle-parity check can't express by itself:
CMS never underestimates, Bloom never false-negatives, triangle
orientation produces each triangle exactly once."""

from __future__ import annotations

from pyspark.sql import functions as F

from fletcher_spark.queries import registry

registry.load_all()

SF_DIR = "/root/testdata/sf0.001"


def test_cms_never_underestimates(spark):
    rows = registry.QUERIES["sketch_cms_heavyhitters"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["overestimate"] == r["cms_est"] - r["exact_cnt"]


def test_bloom_no_false_negatives_and_absent_probes_exist(spark):
    rows = registry.QUERIES["sketch_bloom_membership"](spark, SF_DIR).collect()
    assert len(rows) == 40
    verdicts = {r["verdict"] for r in rows}
    assert "fn" not in verdicts, rows
    # every key actually present must be claimed present
    for r in rows:
        if r["actual"]:
            assert r["in_bloom"], r
    # the 10 beyond-max probes guarantee true negatives (or fp) exist
    assert any(not r["actual"] for r in rows)


def test_kmv_merge_equals_direct_global_sketch(spark):
    """The 'ALL' row is built by merging per-type sketches; KMV merge
    is lossless, so it must equal the sketch built directly over all
    users — and every estimate must be exact when n_distinct < k."""
    from pyspark.sql import Window

    from fletcher_spark.io import load_tables
    from fletcher_spark.queries.sketches import _KMV_K, _KMV_SCALE

    rows = {
        r["event_type"]: r
        for r in registry.QUERIES["sketch_kmv_distinct"](spark, SF_DIR).collect()
    }
    assert "ALL" in rows
    ev = load_tables(spark, SF_DIR)["events"]
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 14), 16, 10)
        .cast("long")
        .alias("h")
    )
    direct = (
        ev.select(h)
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rk") <= _KMV_K)
        .agg(F.count(F.lit(1)).alias("nk"), F.max("h").alias("hk"))
        .collect()[0]
    )
    if direct["nk"] < _KMV_K:
        expected = float(direct["nk"])
    else:
        expected = round((_KMV_K - 1) * _KMV_SCALE / direct["hk"], 2)
    assert rows["ALL"]["kmv_est"] == expected, (rows["ALL"], expected)
    for r in rows.values():
        if r["exact_distinct"] < _KMV_K:
            assert r["kmv_est"] == float(r["exact_distinct"]), r


def test_cms_absent_probe_survives_with_zero_estimate(spark):
    """A probe key never inserted must still come back (estimate 0 when
    its cells are all empty) — the exported-API contract the inner-join
    version violated by dropping absent keys."""
    from fletcher_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string")
    grid = cms_build(df, "key", depth=4, width=4096)
    probes = spark.createDataFrame(
        [("k0",), ("absent-xyzzy",)], "key string"
    )
    got = {r["key"]: r["cms_est"] for r in
           cms_estimate(grid, probes, "key", 4, 4096).collect()}
    assert set(got) == {"k0", "absent-xyzzy"}
    assert got["k0"] >= 1
    assert got["absent-xyzzy"] == 0, got


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """Duplicate probe rows must not flip an inserted key to
    in_bloom=false (the sum-vs-k compare bug)."""
    from fletcher_spark.operators.sketch import bloom_build, bloom_probe

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    bits = bloom_build(df, "key", m=4096, k=3)
    probes = spark.createDataFrame(
        [("k7",), ("k7",), ("k7",), ("nope",)], "key string"
    )
    got = {r["key"]: r["in_bloom"] for r in
           bloom_probe(bits, probes, "key", 4096, 3).collect()}
    assert got["k7"] is True, got


def test_kmv_ungrouped_salted_path_equals_plain_topk(spark):
    """The ungrouped KMV path (salted pre-prune + tiny global window)
    must return exactly the k smallest distinct hashes."""
    from fletcher_spark.operators.sketch import kmv_hash, kmv_minima

    df = spark.createDataFrame([(f"u{i}",) for i in range(300)], "key string")
    got = sorted(r["h"] for r in kmv_minima(df, "key", 16).collect())
    exact = sorted(
        r["h"]
        for r in df.select(kmv_hash(F.col("key")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(16)
        .collect()
    )
    assert got == exact


def test_kcore_peel_rejects_zero_rounds(spark):
    import pytest as _pytest

    from fletcher_spark.operators.graph import kcore_peel

    e = spark.createDataFrame([(1, 2)], "u long, v long")
    with _pytest.raises(ValueError):
        kcore_peel(e, 2, 0)


def test_triangle_corners_divisible_by_three(spark):
    """Each triangle contributes exactly 3 corner rows, so the summed
    per-node counts must be a multiple of 3 — catches double-counted
    orientations."""
    df = registry.QUERIES["graph_triangle_count"](spark, SF_DIR)
    total = df.agg(F.sum("n_triangles").alias("s")).collect()[0]["s"]
    assert total is not None and total % 3 == 0, total


def test_kcore_peel_cascade_on_path_graph(spark):
    """A 10-node path with k=2 peels from both ends, one layer per
    round — the cascade the nation graph doesn't exercise — and the
    survivors after 3 rounds are the documented superset of the true
    (empty) 2-core."""
    from fletcher_spark.operators.graph import kcore_peel

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "u long, v long"
    )
    got = {
        r["node"]: (r["removed_round"], r["core_deg"])
        for r in kcore_peel(e, 2, 3).collect()
    }
    assert got[0][0] == 1 and got[9][0] == 1
    assert got[1][0] == 2 and got[8][0] == 2
    assert got[2][0] == 3 and got[7][0] == 3
    for n in (3, 4, 5, 6):
        assert got[n][0] == 0
    # remaining path 3-4-5-6: end degrees 1, middle degrees 2
    assert got[3][1] == 1 and got[6][1] == 1
    assert got[4][1] == 2 and got[5][1] == 2


def test_kcore_peel_triangle_with_tail_converges(spark):
    """Triangle plus a pendant tail at k=2: the tail node peels in
    round 1 and the triangle IS the exact 2-core (a fixpoint — later
    rounds remove nothing)."""
    from fletcher_spark.operators.graph import kcore_peel

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    got = {
        r["node"]: (r["removed_round"], r["core_deg"])
        for r in kcore_peel(e, 2, 3).collect()
    }
    assert got[4] == (1, 0)
    for n in (1, 2, 3):
        assert got[n] == (0, 2), got


def test_kcore_local_vs_distributed_differential(spark, monkeypatch):
    """The r14 driver-local peel must be value-identical to the
    distributed rounds on graphs exercising every branch: cascades,
    exact cores, isolated-by-peeling nodes, multi-edges, self-loops at
    both parities of k."""
    import random

    from fletcher_spark.operators import graph as G

    rng = random.Random(1414)
    cases = [
        [(i, i + 1) for i in range(9)],                 # path (cascade)
        [(1, 2), (2, 3), (1, 3), (3, 4)],               # triangle + tail
        [(1, 2), (1, 2), (2, 3)],                       # multi-edge
        [(1, 1), (1, 2)],                               # self-loop
    ]
    for _ in range(3):  # random graphs
        n = rng.randint(4, 12)
        cases.append(
            [
                (rng.randint(0, n), rng.randint(0, n))
                for _ in range(rng.randint(3, 25))
            ]
        )
    for k in (2, 3):
        for edges in cases:
            e = spark.createDataFrame(edges, "u long, v long")
            loc = {
                r["node"]: (r["removed_round"], r["core_deg"])
                for r in G.kcore_peel(e, k, 3).collect()
            }
            with monkeypatch.context() as m:
                m.setattr(G, "LOCAL_EDGE_LIMIT", 0)
                dist = {
                    r["node"]: (r["removed_round"], r["core_deg"])
                    for r in G.kcore_peel(e, k, 3).collect()
                }
            assert loc == dist, (k, edges)
