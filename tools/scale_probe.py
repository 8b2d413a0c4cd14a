"""Scale probe: synthesize a ~10× (sf1-shaped) dataset from sf0.1 and
time a query list at both scales to measure per-query scaling exponents
(VERDICT r6 ask #7).  Evidence for the 100× story: a query whose
wall-clock grows ~linearly (ratio ≈ 10× work / 32 cores, i.e. anything
clearly sub-quadratic) has no hidden all-pairs or funnel; a
super-linear ratio gets a plan diff note in SCALE.md.

The synthetic sf1 is NOT a naive 10× copy — verbatim replication would
plant every doc/vector as a 10-way duplicate and blow the near-dup
candidate generation up quadratically BY CONSTRUCTION (a measurement
artifact, not a scale signal).  Instead each copy is made disjoint in
the similarity spaces while preserving within-copy structure:

* documents: every token suffixed ``_<copy>`` → cross-copy shingle
  vocabularies are disjoint (jaccard 0), within-copy dup/near-dup
  structure identical to sf0.1; ``doc_id`` shifted; ``n_chars``
  recomputed.
* embeddings: element-wise ±1 mask per copy (a diagonal orthogonal
  transform) → within-copy cosines EXACTLY preserved, cross-copy
  cosines ≈ 0; ``vec_id`` shifted.
* events/orders/customer: entity keys shifted per copy (disjoint
  users/customers), value columns untouched.
* lineitem: ``l_orderkey`` shifted; part/supp keys kept (dimension
  tables stay single-copy, as at real scale).
* region/nation/part/supplier: copied verbatim (dims don't scale).

Writes to ``<repo>/.tmp/sf{copies/10}`` (gitignored scratch — never
committed): ``gen 10`` → ``.tmp/sf1`` (10×), ``gen 100`` → ``.tmp/sf10``
(100×, VERDICT r9 ask #1 — turns the 10× linearity claims into measured
two-point curvature).  Generation streams one copy at a time through a
ParquetWriter so the 100× tier (60 M-row lineitem) never materializes
in memory.

Usage:
    python tools/scale_probe.py gen [copies=10]    # build .tmp/sf{c/10}
    python tools/scale_probe.py run [q1,q2,...] [dst=.tmp/sf1]
        (default query list: the 10 slowest in BENCH.out; dst may be a
        bare tier name like ``sf10``)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
OFFSET = 100_000_000


def tier_dir(copies: int) -> str:
    """10 copies → .tmp/sf1, 100 → .tmp/sf10 (sf0.1 × copies)."""
    return os.path.join(REPO, ".tmp", f"sf{copies / 10:g}")


DST = tier_dir(10)  # default 10× tier (the `pytest -m scale` bounds)


def gen(copies: int = 10) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = tier_dir(copies)
    os.makedirs(dst, exist_ok=True)
    # drop a prior run's completion sentinel FIRST: a regeneration (e.g.
    # after changing OFFSET) killed mid-write must not leave the stale
    # _SUCCESS validating a torn/mixed file set
    sentinel = os.path.join(dst, "_SUCCESS")
    if os.path.exists(sentinel):
        os.remove(sentinel)

    for t in ("region", "nation", "part", "supplier"):
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), f"{dst}/{t}.parquet")

    def shifted(table: str, key_cols: list[str]) -> None:
        # one copy per write_table call: the 100× tier's lineitem is
        # 60 M rows — streamed, the peak footprint stays one sf0.1 copy
        src = pq.read_table(f"{SRC}/{table}.parquet")
        with pq.ParquetWriter(f"{dst}/{table}.parquet", src.schema) as w:
            for i in range(copies):
                cols = {}
                for name in src.column_names:
                    col = src.column(name)
                    if name in key_cols:
                        col = pa.compute.add(col, i * OFFSET)
                    cols[name] = col
                w.write_table(pa.table(cols).cast(src.schema))

    shifted("customer", ["c_custkey"])
    shifted("orders", ["o_orderkey", "o_custkey"])
    shifted("lineitem", ["l_orderkey"])
    shifted("events", ["event_id", "user_id"])

    # documents: disjoint token vocab per copy
    src = pq.read_table(f"{SRC}/documents.parquet")
    texts = src.column("text").to_pylist()
    with pq.ParquetWriter(f"{dst}/documents.parquet", src.schema) as w:
        for i in range(copies):
            suf = f"_{i}"
            ntexts = [
                None if t is None else " ".join(wd + suf for wd in t.split(" "))
                for t in texts
            ]
            w.write_table(
                pa.table(
                    {
                        "doc_id": pa.compute.add(src.column("doc_id"), i * OFFSET),
                        "text": pa.array(ntexts, pa.string()),
                        "lang": src.column("lang"),
                        "source": src.column("source"),
                        "n_chars": pa.array(
                            [None if t is None else len(t) for t in ntexts],
                            pa.int64(),
                        ),
                    }
                ).cast(src.schema)
            )

    # embeddings: per-copy ±1 diagonal mask (orthogonal, cosine-preserving
    # within a copy, decorrelating across copies)
    emb = pq.read_table(f"{SRC}/embeddings.parquet")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    vid = emb.column("vec_id").to_numpy()
    lab = emb.column("label").to_numpy(zero_copy_only=False)
    dim = vecs.shape[1]
    rng = np.random.default_rng(7)
    with pq.ParquetWriter(f"{dst}/embeddings.parquet", emb.schema) as w:
        for i in range(copies):
            mask = (rng.integers(0, 2, size=dim) * 2 - 1).astype(np.float32)
            w.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(vid + i * OFFSET),
                        "embedding": pa.array(
                            (vecs * mask).tolist(), pa.list_(pa.float32())
                        ),
                        "label": pa.array(lab, pa.int32()),
                    }
                ).cast(emb.schema)
            )
    # completion sentinel, written LAST: a generation killed mid-write
    # leaves a torn parquet behind an otherwise-complete file set, so
    # consumers (tests/test_scale_probe.py) gate on this, not the files
    with open(os.path.join(dst, "_SUCCESS"), "w") as f:
        f.write("ok\n")
    for t in sorted(os.listdir(dst)):
        if t.endswith(".parquet"):
            print(t, pq.read_metadata(f"{dst}/{t}").num_rows)


def run(names: list[str], dst: str = DST) -> None:
    from pyspark.sql import SparkSession

    from fletcher_spark.queries import registry
    from fletcher_spark.session import STATIC_CONFS, apply_runtime_confs

    registry.load_all()
    label = os.path.basename(dst.rstrip("/"))
    # The launch-size knob scales with the tier, exactly as a cluster
    # submit would size it (SCALE.md "session defaults"): partitions
    # sized so shuffle blocks stay ~advisory-sized at the tier's data
    # volume, AQE coalesces down per stage.  Fixed 32 at the 100× tier
    # under-provisions reducers by ~10× and reads as super-linearity
    # (dedup_prefix_filter_join measured 165.8 s at 32 fixed vs 65.5 s
    # sized — the algorithm is linear; the launch config wasn't scaled).
    # sf0.1→32 and sf1→32 keep the historical bound baselines comparable.
    copies = {"sf1": 10, "sf10": 100}.get(label)
    parts = str(max(32, (copies or 10) * 32 // 10))
    spark = (
        SparkSession.builder.appName("scale-probe")
        .master("local[32]")
        .config(map=STATIC_CONFS)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", parts)
        # sf1 working sets (15M-row gram/shingle tables + persists) blow
        # the 1g local-mode default heap; the probe box has 128 GiB.
        # The sf10 tier gets more headroom via SCALE_PROBE_DRIVER_MEM.
        .config(
            "spark.driver.memory", os.environ.get("SCALE_PROBE_DRIVER_MEM", "48g")
        )
        .getOrCreate()
    )
    apply_runtime_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    def one(name: str, sf_dir: str) -> float:
        # each scale runs under its OWN launch sizing (the baseline at
        # the 100× tier's width would inflate: 320 reducers over sf0.1
        # data pays per-block overhead with nothing to coalesce-save) —
        # shuffle.partitions is runtime-settable, AQE re-plans per query
        spark.conf.set(
            "spark.sql.shuffle.partitions", "32" if sf_dir == SRC else parts
        )
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return time.perf_counter() - t0

    one("q1_pricing_summary", SRC)  # warm-up
    print(f"{'query':36s} {'sf0.1':>8s} {label:>8s} {'ratio':>7s}")
    out = {}
    for n in names:
        a = min(one(n, SRC), one(n, SRC))
        b = min(one(n, dst), one(n, dst))
        out[n] = (round(a, 2), round(b, 2), round(b / a, 2))
        print(f"{n:36s} {a:8.2f} {b:8.2f} {b / a:7.2f}")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        gen(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    else:
        if len(sys.argv) > 2 and sys.argv[2]:
            names = sys.argv[2].split(",")
        else:
            with open(os.path.join(REPO, "BENCH.out")) as f:
                q = json.load(f)["queries"]
            names = [n for n, t in sorted(q.items(), key=lambda kv: -kv[1])[:10]]
        dst = DST
        if len(sys.argv) > 3:
            dst = sys.argv[3]
            if os.sep not in dst:  # bare tier name like "sf10"
                dst = os.path.join(REPO, ".tmp", dst)
        run(names, dst)
