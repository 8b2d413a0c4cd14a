"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

The full per-query JSON is also written to BENCH.out in the repo root:
round 2's single stdout line (107 queries, ~4 KB) overflowed the driver's
tail capture (BENCH_r02.json ``parsed: null``), so the printed line is the
authoritative compact record and BENCH.out carries the byte-identical
payload for offline reading.

Each query is forced end-to-end with the no-op sink (full computation,
no driver collect).  A warm-up of the flagship query absorbs JVM/codegen
startup so numbers reflect steady-state throughput.

Each query runs TWICE back-to-back and the MINIMUM is recorded (r6):
this box runs other tenants, and a single contended execution once froze
a phantom 3× "regression" into the committed snapshot (BENCH_r05
ann_pq_adc 5.0 s vs 1.3-1.5 s re-timed).  The min of two runs bounds
scheduler noise at one extra pass's cost; since the session cache is
shared across the sweep anyway (see the no-clearCache note below), the
min is a steady-state warm number — the quantity the per-round overlap
comparison actually wants.  When the two samples disagree by >25 % and
the best is over 50 ms (below that, scheduler jitter alone explains
any ratio and a third sample is pure cost), BOTH may have straddled a
contention burst, so a third sample runs and the min of three is
recorded — only disagreeing queries pay for it (typically a handful
per sweep).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def measure(run_fn, name: str) -> tuple[float, float | None]:
    """Sampling policy for one query: min-of-2, adaptive third sample
    when the two disagree by >25 % (best above the 50 ms jitter floor),
    plus the burst-spread flag (VERDICT r12 ask #3) — ``(best,
    spread)`` where spread is max/min across this query's own samples
    when it exceeds 3×, else None.  Factored out of the sweep loop so
    the policy is unit-testable without a SparkSession
    (tests/test_bench_harness.py)."""
    samples = [run_fn(name), run_fn(name)]
    best = min(samples)
    if max(samples) > 1.25 * best and best > 0.05:
        samples.append(run_fn(name))
        best = min(samples)
    spread = None
    if best > 0.05 and max(samples) > 3.0 * best:
        spread = round(max(samples) / best, 2)
    return best, spread


def _box_probe_df(spark, sf_dir):
    """The box-speed probe's workload, FROZEN at the r1–r12 registered
    q1 shape (double sums, round(…, 4)).  The registered
    q1_pricing_summary moved to exact-decimal accumulation in r13; had
    the probe followed it, every cross-round box-normalized comparison
    would silently mix denominators measured on different work — the
    same redefinition trap as the reverted min(pre, post) form (r12).
    box_ref_sec therefore means the SAME computation in every snapshot
    since r10, regardless of how the registered query evolves.
    """
    from pyspark.sql import functions as F

    from fletcher_spark.io import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from pyspark.sql import SparkSession

    from fletcher_spark.session import STATIC_CONFS, apply_runtime_confs
    from fletcher_spark.queries import registry

    registry.load_all()
    # Build here (not get_spark) so the console progress bar is off before
    # the context starts — r1/r2 stage-progress lines polluted the driver's
    # stdout capture.
    spark = (
        SparkSession.builder.appName("fletcher-spark-bench")
        .master(f"local[{cpus}]")
        .config(map=STATIC_CONFS)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    apply_runtime_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        # no clearCache between queries: Spark's cache manager resolves
        # persist() by analyzed-plan equality, so the dedup family
        # legitimately shares its shingle/signature sub-plans (an A/B
        # showed clearing forfeits ~1.5 s across the family while saving
        # nothing at this cache footprint)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def probe() -> float:
        # frozen workload — see _box_probe_df
        t0 = time.perf_counter()
        _box_probe_df(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # Warm-up: JVM JIT + codegen + parquet footer caching (the frozen
    # probe shape, byte-identical to the r1-r12 warm-up).
    probe()
    # ... and the Python/Arrow worker pool (daemon + per-core workers):
    # otherwise the alphabetically-first pandas-UDF query absorbs the
    # whole pool spawn (~1.5-2 s) into its measurement.  A trivial
    # grouped map over 32 driver-local rows touches every executor
    # thread's worker path at negligible compute cost.
    warm = spark.range(0, 32, 1, int(cpus)).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    )
    warm.write.mode("overwrite").format("noop").save()

    # Canonical box-speed probe (VERDICT r9 ask #2): the q1 warm-up's
    # steady-state min-of-3, recorded as ``box_ref_sec``.  Cross-round
    # total comparisons on this multi-tenant box have repeatedly needed
    # manual adjudication of 1.1-1.3x phantom swings (BENCH_r05 froze a
    # 3x phantom; r9's 134.5 s driver sweep re-timed at r7 levels solo).
    # A recorded denominator lets tools/bench_diff.py report ratios
    # normalized by how fast the box actually was during EACH sweep,
    # settling "code or contention?" in one line.  q1 is the probe
    # because it is pure JVM scan+hash-agg (no Python workers, no cache
    # interplay) and has run first in every round since r1.
    box_ref_pre = min(probe() for _ in range(3))

    timings: dict[str, float] = {}
    # Per-query burst detection (VERDICT r12 ask #3): the r12 six-sweep
    # series showed the pre/post box probes' blind spot — a contention
    # burst localized to ONE query family mid-sweep (dedup_cc_clusters
    # 11.7 s / graph_kcore_peel 13.1 s, ~5x their level in every other
    # sweep, totals elsewhere normal) costs a cross-sweep adjudication
    # because nothing in the committed snapshot labels it.  The samples
    # already exist: when a query's own max/min spread exceeds 3x (min
    # above the 50 ms jitter floor), record the spread under
    # ``burst_suspect`` so bench_diff can annotate flagged movers.  The
    # RECORDED timing is still the min — the burst flag marks "this
    # query saw a burst during this sweep", not "this number is wrong".
    burst_suspect: dict[str, float] = {}
    for name in sorted(registry.QUERIES):
        if name in getattr(registry, "BENCH_EXCLUDE", set()):
            continue
        try:
            # min-of-2, adaptive third sample, burst flag: see measure()
            best, spread = measure(run, name)
            timings[name] = round(best, 3)
            if spread is not None:
                burst_suspect[name] = spread
        except Exception as exc:  # a failing query must not hide the rest
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0

    # Closing box-speed sample (VERDICT r11 ask #4): the r9-r11 bench
    # phantom pattern is a sweep whose denominator was sampled during a
    # contention burst that LIFTED (or landed) mid-sweep — a single
    # opening probe can't see that.  Sampling the same q1 probe again
    # after the sweep makes intra-sweep drift self-flagging:
    # tools/bench_diff.py reads both ends at snapshot load.
    # box_ref_sec REMAINS the pre-sweep sample: every pre-r12 snapshot
    # measured its denominator at exactly that position, and the post
    # sample is systematically ~1.7-1.9x FASTER from JVM JIT maturation
    # alone (measured r12, twice, on a quiet box: pre 0.62-0.68 ->
    # q1-in-loop 0.50 -> post 0.36) — folding it in (e.g. min of both)
    # would silently redefine the denominator and manufacture phantom
    # box-normalized regressions against every older snapshot.
    # Guarded: a post-probe failure must not discard the completed
    # sweep (the per-query loop guards each query for the same reason).
    # On failure box_ref_post is recorded as null — NOT pre (ADVICE
    # r12): pre == post reads as a clean zero-drift sweep in
    # bench_diff's drift check, silently conflating "unmeasured" with
    # "no drift".
    try:
        box_ref_post = min(probe() for _ in range(3))
    except Exception as exc:  # noqa: BLE001
        print(f"bench: post box probe FAILED: {exc}", file=sys.stderr)
        box_ref_post = None
    box_ref = box_ref_pre

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    post_rounded = round(box_ref_post, 3) if box_ref_post is not None else None
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "box_ref_sec": round(box_ref, 3),
        "box_ref_pre_sec": round(box_ref_pre, 3),
        "box_ref_post_sec": post_rounded,
        "burst_suspect": burst_suspect,
        "sf": sf,
    }
    # Full record to a file (survives any stdout truncation) ...
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.out")
    with open(out_path, "w") as f:
        f.write(json.dumps(payload) + "\n")
    # ... and a SHORT final line on stdout: r2's full 107-query line
    # overflowed the driver's tail capture (BENCH_r02 ``parsed: null``), so
    # the parseable line carries the total + the slowest queries and points
    # at BENCH.out for the rest.
    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    failed = sorted(n for n, t in timings.items() if t < 0)
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "n_failed": len(failed),
        "queries_file": "BENCH.out",
        "box_ref_sec": round(box_ref, 3),
        "box_ref_pre_sec": round(box_ref_pre, 3),
        "box_ref_post_sec": post_rounded,
        "burst_suspect": burst_suspect,
        "sf": sf,
    }
    sys.stdout.flush()
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
