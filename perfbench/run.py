"""fletcher-spark benchmark: closed-loop workloads through the library's
public entry points, with an oracle gate and an optional per-layer trace.

Usage (from the repository root)::

    python3 perfbench/run.py --workload columnar --seed 1 --seconds 8 --trace 0

One run:

1. makes a private run directory under ``.perfbench/`` (its ``TMPDIR``,
   ``SPARK_LOCAL_DIRS`` and generated tables; deleted at exit) and puts
   the repository on ``PYTHONPATH`` so Python workers import
   ``fletcher_spark``;
2. writes the tables (``perfbench/datagen.py``, fixed seed) and, from
   ``--seed``, the ``arrow_io`` input table;
3. starts ``fletcher_spark.session.get_spark`` on ``local[nproc]`` with
   ``SPARK_GRAFT_CPUS=nproc``, loads the registry, and warms up: one cold
   pass that also collects every op's result for the oracle gate, then
   the workload's ``warm_passes`` noop passes, because JIT warm-up is not
   over after one pass.  ``setup_s`` runs from process start to here,
   less the time step 2 took, which is the harness's own work;
4. runs timed passes over the op list, each in an order fixed by
   ``--seed``: as many as fill ``--seconds`` at the workload's typical
   pass time, and at least three, so that the median is a middle pass
   and not the mean of two.  A pass during which the hypervisor stole
   more than 5% of the machine's CPU time is taken again, at most twice,
   and left out of the metrics (``STEAL_LIMIT``);
5. compares each op's collected result with its DuckDB oracle
   (``registry.ORACLE`` through ``tests.conftest.pandas_canon``, as
   ``tools/check_queries.py`` does), untimed;
6. prints a report and, as the last line, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``pass_s`` (median pass), ``op_p50_s``/``op_p90_s`` (per-op latency from
the registered callable to the sink) and ``peak_rss_mb`` (driver, JVM and
Python workers, from ``/proc``).  Failed ops (raised, or mismatched the
oracle) are counted in ``failed``; ``failed_frac`` is printed in the
report.  With ``--trace 1`` passes alternate between untraced and traced
(see ``layers.py``); the metrics are the per-layer ones, counters taken
from the first traced pass and times as medians over traced passes.  The
spans go to ``.perfbench/spans-<workload>-<seed>.jsonl``.

Run metadata that is not a metric — the frozen q1 box probe
(``bench._box_probe_df``) and ``/proc/loadavg`` before and after the
timed passes, CPU steal time during each timed pass, pass times, which
passes were kept, oracle gate result — goes to
``.perfbench/meta-<workload>-<seed>.json`` and the report, so a run taken
on a contended machine can be recognised.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}
#: per-layer metric -> (unit, how it is taken from the traced passes,
#: field of the per-op trace record it sums):
#: "first" = total of the first traced pass (exact counters),
#: "median" = median over traced passes of the per-pass total (times).
#: The end-to-end metric each layer should move, and on which workload:
#: session -> setup_s (all); build.* -> op_p50_s (columnar), pass_s
#: (curation); catalyst.* -> op_p50_s (columnar); exec.* -> pass_s and
#: op_p90_s (curation); cache.* -> pass_s (curation); pyworker.* -> pass_s
#: and op_p90_s (arrow_io); io.* -> pass_s (arrow_io).
LAYER_METRICS = {
    "session.start_s": ("s", "setup", None),
    "build.s": ("s", "median", "build_s"),
    "build.py4j_calls": ("count", "first", "py4j_calls"),
    "build.jobs": ("count", "first", "build_jobs"),
    "catalyst.analysis_ms": ("ms", "median", "analysis_ms"),
    "catalyst.optimization_ms": ("ms", "median", "optimization_ms"),
    "catalyst.planning_ms": ("ms", "median", "planning_ms"),
    "exec.s": ("s", "median", "exec_s"),
    "exec.jobs": ("count", "first", "exec_jobs"),
    "exec.stages": ("count", "first", "stages"),
    "exec.tasks": ("count", "first", "tasks"),
    "exec.tasks_failed": ("count", "first", "tasks_failed"),
    "exec.exchanges": ("count", "first", "exchanges"),
    "exec.executor_cpu_s": ("s", "first", "cpu_s"),
    "exec.shuffle_read_bytes": ("bytes", "first", "shuffle_read"),
    "exec.shuffle_write_bytes": ("bytes", "first", "shuffle_write"),
    "cache.inmemory_scans": ("count", "first", "inmemory_scans"),
    "cache.hit_ratio": ("ratio", "first", ("persist_hits", "persist_requests")),
    "cache.tables_memo_hit_ratio": ("ratio", "first", ("memo_hits", "memo_lookups")),
    "pyworker.nodes": ("count", "first", "py_nodes"),
    "pyworker.eval_s": ("s", "median", "py_eval_s"),
    "pyworker.start_s": ("s", "median", "py_start_s"),
    "pyworker.rows": ("count", "first", "py_rows"),
    "pyworker.bytes": ("bytes", "first", "py_bytes"),
    "io.from_arrow_s": ("s", "median", "from_arrow_s"),
    "io.to_arrow_s": ("s", "median", "to_arrow_s"),
    "io.write_s": ("s", "median", "write_s"),
    "io.bytes_written": ("bytes", "first", "bytes_written"),
}
#: Layer times that are exactly 0 on every run of a workload that lacks
#: the layer (no Python workers, no direct Arrow calls, no file writes).
#: A time that never changes cannot be told from a stuck clock, so these
#: are printed in the report but left out of the result line.
REPORT_ONLY = {"pyworker.eval_s", "pyworker.start_s", "io.from_arrow_s", "io.to_arrow_s",
               "io.write_s"}


def process_start() -> float:
    """``time.perf_counter()`` value at which this process started (from
    /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# -- processes and memory ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        kids = tree.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants:
    the driver Python, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_all(spark) -> None:
    """Stop Spark, the JVM and every process this run started, and wait."""
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - killed below
                        pass
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# -- the run ----------------------------------------------------------------


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method; q in 1..99)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


#: A timed pass during which the hypervisor stole more than this share of
#: the machine's CPU time measures the neighbours, not the program.  An
#: untraced run takes such a pass again, at most ``MAX_RETAKES`` times,
#: and reports only the other passes.
STEAL_LIMIT = 0.05
MAX_RETAKES = 2


def run_pass(ops, seed, i, on_op=None):
    """Closed loop: one pass over the op list, in an order fixed by
    ``seed`` and the pass number ``i``; ``on_op`` runs each op traced.
    Returns the pass wall time, a list of (pass, op name, latency or None
    when the op raised) and the CPU time stolen during the pass."""
    samples = []
    order = list(ops)
    random.Random(f"{seed}:{i}").shuffle(order)
    stolen = steal_s()
    t_pass = time.perf_counter()
    for op in order:
        t0 = time.perf_counter()
        try:
            if on_op is not None:
                on_op(i, op)
            else:
                op.sink(op.build())
        except Exception as exc:  # noqa: BLE001 - a failing op is counted, not fatal
            log(f"{op.name} failed: {exc!r}"[:500])
            samples.append((i, op.name, None))
            continue
        samples.append((i, op.name, time.perf_counter() - t0))
    return time.perf_counter() - t_pass, samples, steal_s() - stolen


def timed_passes(ops, seed, n_passes, cpus, on_op=None):
    """``n_passes`` passes; with ``on_op``, even passes are traced and
    odd ones are not.  Untraced, a pass with too much CPU steal is taken
    again (see ``STEAL_LIMIT``).  Returns every pass as (wall time,
    samples, stolen CPU seconds, kept)."""
    passes, n_kept = [], 0
    while n_kept < n_passes:
        i = len(passes)
        wall, samples, stolen = run_pass(ops, seed, i, on_op if i % 2 == 0 else None)
        keep = (stolen <= STEAL_LIMIT * wall * cpus or on_op is not None
                or i - n_kept >= MAX_RETAKES)
        passes.append((wall, samples, stolen, keep))
        n_kept += keep
    return passes


def oracle_gate(ops, results, data_dir, arrow_table) -> dict[str, str]:
    """Compare each collected result with its oracle; returns op -> problem."""
    import duckdb
    from tests.conftest import TABLES, pandas_canon

    from fletcher_spark.queries import registry

    problems = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for op in ops:
            got = results.get(op.name)
            if isinstance(got, Exception):
                problems[op.name] = f"raised {got!r}"[:300]
                continue
            if op.name in registry.QUERIES:
                want = con.sql(registry.ORACLE[op.name]).df()
                same = pandas_canon(got, op.name) == pandas_canon(want, op.name)
            else:  # a direct Arrow call must hand back the seeded table unchanged
                want = arrow_table
                same = got.sort_by("id").equals(want)
            if not same:
                problems[op.name] = f"mismatch: {len(got)} rows vs oracle {len(want)}"
    finally:
        con.close()
    return problems


def box_probe(spark, data_dir) -> float:
    from bench import _box_probe_df

    t0 = time.perf_counter()
    _box_probe_df(spark, data_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def layer_metrics(records, session_start_s) -> dict[str, float]:
    """Per-layer metrics from the traced op records."""
    passes = sorted({r["pass"] for r in records})
    per_pass = {p: [r for r in records if r["pass"] == p] for p in passes}
    for r in records:  # the direct Arrow calls: build of one, sink of the other
        r["from_arrow_s"] = r["build_s"] if r["op"] == "io.from_arrow" else 0.0
        r["to_arrow_s"] = r["exec_s"] if r["op"] == "io.to_arrow" else 0.0

    def total(recs, field):
        return sum(r[field] for r in recs)

    out = {}
    for name, (_, how, field) in LAYER_METRICS.items():
        if how == "setup":
            out[name] = session_start_s
        elif isinstance(field, tuple):
            hits, lookups = (total(per_pass[passes[0]], f) for f in field)
            out[name] = hits / lookups if lookups else 0.0
        elif how == "first":
            out[name] = total(per_pass[passes[0]], field)
        else:
            out[name] = statistics.median(total(per_pass[p], field) for p in passes)
    return out


def print_layer_report(records, untraced_passes, traced_passes) -> None:
    """Per-layer self times (median per traced pass), per-op breakdown of
    the first traced pass, and the tracing overhead."""
    passes = sorted({r["pass"] for r in records})
    for r in records:  # self times: catalyst spans sit inside build and exec
        r["build_self_s"] = r["build_s"] - r["catalyst_build_s"]
        r["exec_self_s"] = r["exec_s"] - r["catalyst_exec_s"]
        r["other_s"] = r["op_s"] - r["build_s"] - r["exec_s"]

    def med(field):
        return statistics.median(sum(r[field] for r in records if r["pass"] == p) for p in passes)

    wall = med("op_s")
    rows = [("build", med("build_self_s")), ("catalyst", med("catalyst_s")),
            ("exec", med("exec_self_s")), ("other", med("other_s"))]
    print(f"{'layer':<10}{'self s/pass':>12}{'share':>8}")
    for name, v in rows:
        print(f"{name:<10}{v:>12.3f}{v / wall:>8.1%}")
    print(f"{'op total':<10}{wall:>12.3f}")
    first = [r for r in records if r["pass"] == passes[0]]
    cols = ("build_self_s", "catalyst_s", "exec_self_s", "py4j_calls", "build_jobs", "exec_jobs",
            "stages", "exchanges", "inmemory_scans", "py_nodes")
    print(f"{'op':<30}" + "".join(f"{c:>15}" for c in cols))
    for r in sorted(first, key=lambda r: r["op"]):
        print(f"{r['op']:<30}" + "".join(
            f"{r[c]:>15.3f}" if isinstance(r[c], float) else f"{r[c]:>15}" for c in cols))
    if untraced_passes and traced_passes:
        u, t = statistics.median(untraced_passes), statistics.median(traced_passes)
        print(f"tracing overhead: op time {wall / u - 1:+.1%}, pass wall {t / u - 1:+.1%} "
              f"(traced {t:.3f} s vs untraced {u:.3f} s per pass)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = process_start()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401 - the frozen box probe
        import tests.conftest  # noqa: F401 - the oracle canonicalisation
        from fletcher_spark.queries import registry  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    workload = WORKLOADS[args.workload]

    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        # every JVM (the spark-submit launcher too) keeps its temp and
        # perf-counter files inside the run directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=cpus,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.enabled=false "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    tempfile.tempdir = tmp

    import datagen
    import pyarrow.parquet as pq

    from fletcher_spark.session import get_spark
    from workloads import make_ops

    spark = None
    try:
        t = time.perf_counter()
        datagen.write(datagen.TABLES_SEED, datagen.TABLES_SF, data_dir)
        arrow_table = None
        if workload.arrow_rows:
            arrow_table = datagen.arrow_table(args.seed, workload.arrow_rows)
            pq.write_table(arrow_table, os.path.join(data_dir, "arrow_table.parquet"))
        phases = {"datagen_s": time.perf_counter() - t,
                  "process_to_data_s": time.perf_counter() - t_process}
        t = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t
        registry.load_all()
        ops = make_ops(workload, spark, data_dir, arrow_table)

        # Cold pass: collects every result for the oracle gate.
        t = time.perf_counter()
        results = {}
        order = list(ops)
        random.Random(f"{args.seed}:cold").shuffle(order)
        for op in order:
            try:
                results[op.name] = op.result()
            except Exception as exc:  # noqa: BLE001 - reported by the gate
                results[op.name] = exc
        phases["cold_pass_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for i in range(workload.warm_passes):
            run_pass(ops, f"{args.seed}:warm", i)
        phases["warm_passes_s"] = time.perf_counter() - t
        # the library's set-up: everything up to here but the harness's
        # own table generation
        setup_s = time.perf_counter() - t_process - phases["datagen_s"]

        meta = {"workload": args.workload, "seed": args.seed, "cpus": int(cpus),
                "setup_phases": {**phases, "session_start_s": session_start_s},
                "box_probe_pre_s": box_probe(spark, data_dir), "loadavg_pre": loadavg()}
        n_timed = max(3, round(args.seconds / workload.pass_s))
        tracer = records = None
        if args.trace:
            from layers import Tracer

            tracer, records = Tracer(spark, t_process), []

            def on_op(i, op):
                records.append({**tracer.trace_op(op.name, op.build, op.sink), "pass": i})

            passes = timed_passes(ops, args.seed, n_timed, int(cpus), on_op)
            tracer.close()
        else:
            passes = timed_passes(ops, args.seed, n_timed, int(cpus))
        rss = peak_rss_mb()
        kept = [p for p in passes if p[3]]
        pass_times = [wall for wall, *_ in kept]
        samples = [x for p in passes for x in p[1]]
        meta.update(steal_timed_s=[round(p[2], 2) for p in passes],
                    box_probe_post_s=box_probe(spark, data_dir), loadavg_post=loadavg(),
                    passes=len(passes), passes_kept=len(kept), op_samples=len(samples),
                    pass_times_s=[round(p[0], 4) for p in passes])

        t = time.perf_counter()
        problems = oracle_gate(ops, results, data_dir, arrow_table)
        meta["gate_s"] = time.perf_counter() - t
    finally:
        stop_all(spark)
        shutil.rmtree(os.path.dirname(data_dir), ignore_errors=True)

    attempted = len(samples)
    failed = sum(1 for _, name, lat in samples if lat is None or name in problems)
    meta.update(oracle_problems=problems, attempted=attempted, failed=failed,
                failed_frac=failed / attempted)
    latencies = [lat for p in kept for _, _, lat in p[1] if lat is not None]
    if args.trace:
        layer = layer_metrics(records, session_start_s)
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]}
                   for k, v in layer.items() if k not in REPORT_ONLY}
        print_layer_report(records, pass_times[1::2], pass_times[0::2])
        for k in sorted(REPORT_ONLY):
            print(f"{k:<32}{layer[k]:>16.4f} {LAYER_METRICS[k][0]}")
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        with open(spans_path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in tracer.spans)
        meta["per_op"] = records
        print(f"spans: {spans_path}")
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times),
            "op_p50_s": statistics.median(latencies),
            "op_p90_s": quantile(latencies, 90),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    with open(os.path.join(out_dir, f"meta-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(meta, f, indent=1)
    for k, m in metrics.items():
        print(f"{k:<32}{m['value']:>16.4f} {m['unit']}")
    print(f"{'failed_frac':<32}{meta['failed_frac']:>16.4f} ratio ({failed}/{attempted})")
    for k in ("setup_phases", "gate_s", "passes", "passes_kept", "op_samples", "pass_times_s",
              "box_probe_pre_s", "box_probe_post_s", "steal_timed_s", "loadavg_pre",
              "loadavg_post"):
        print(f"{k:<32}{meta[k]}")
    for name, problem in problems.items():
        print(f"oracle: {name}: {problem}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
