"""Per-query optimization profiler (guide §1: measure first).

Usage:
    python tools/profile_query.py [--plans DIR] [--runs N] <query> [<query> ...]
    python tools/profile_query.py --all            # every bench query
    python tools/profile_query.py --plans plans/r13 --suffix _before <names>

For each query it reports, on one line per run:
    wall seconds | #Spark jobs the run triggered | #stages | #tasks
and (with --plans) writes the post-construction ``explain("formatted")``
to ``<DIR>/<query><suffix>.txt``.  Jobs are counted via the local UI
REST API (http://localhost:<port>/api/v1), which sees every job the
query ran including eager construction-time jobs (collects inside
materialize=True operators, localCheckpoints, persists) — exactly the
overhead a wall-clock-only number hides.

Same session shape as bench.py: local[$SPARK_GRAFT_CPUS], shuffle
partitions = cpus, runtime confs applied, warm-up probe first.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(port: int, app_id: str, path: str):
    url = f"http://localhost:{port}/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "_before"
    runs = 2
    names: list[str] = []
    run_all = False
    verbose = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif a == "--all":
            run_all = True
            i += 1
        elif a == "--jobs":
            verbose = True
            i += 1
        else:
            names.append(a)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from fletcher_spark.session import STATIC_CONFS, apply_runtime_confs
    from fletcher_spark.queries import registry

    registry.load_all()
    if run_all:
        names = [n for n in sorted(registry.QUERIES) if n not in registry.BENCH_EXCLUDE]

    spark = (
        SparkSession.builder.appName("fletcher-spark-profile")
        .master(f"local[{cpus}]")
        .config(map=STATIC_CONFS)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    apply_runtime_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])

    # warm-up: JVM + python worker pool (mirrors bench.py)
    from bench import _box_probe_df

    _box_probe_df(spark, sf_dir).write.mode("overwrite").format("noop").save()
    warm = spark.range(0, 32, 1, int(cpus)).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    )
    warm.write.mode("overwrite").format("noop").save()

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    for name in names:
        fn = registry.QUERIES[name]
        for r in range(runs):
            jobs_before = {j["jobId"] for j in _rest(port, app_id, "/jobs")}
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            jobs = [
                j
                for j in _rest(port, app_id, "/jobs")
                if j["jobId"] not in jobs_before
            ]
            n_stages = sum(len(j.get("stageIds", [])) for j in jobs)
            n_tasks = sum(j.get("numTasks", 0) for j in jobs)
            print(
                f"{name}  run{r}: wall={wall:.3f}s build={t_build:.3f}s "
                f"jobs={len(jobs)} stages={n_stages} tasks={n_tasks}",
                flush=True,
            )
            if verbose:
                from datetime import datetime

                def _ms(ts: str) -> float:
                    return datetime.strptime(
                        ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                    ).timestamp()

                for j in sorted(jobs, key=lambda j: j["jobId"]):
                    dur = (
                        _ms(j["completionTime"]) - _ms(j["submissionTime"])
                        if "completionTime" in j
                        else -1
                    )
                    print(
                        f"    job {j['jobId']}: {dur:6.3f}s tasks={j.get('numTasks', 0):4d} "
                        f"{(j.get('description') or j.get('name', ''))[:100]}",
                        flush=True,
                    )
            if r == runs - 1 and plans_dir:
                txt = df._jdf.queryExecution().explainString(mode)
                with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as f:
                    f.write(txt)

    spark.stop()


if __name__ == "__main__":
    main()
