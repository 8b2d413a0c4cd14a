"""The benchmark's three workloads and the ops they issue.

Each workload is a fixed list of ops over the generated tables; the run's
seed fixes the op order of every pass and the ``arrow_io`` Arrow table.
An op is a build step (the library's public entry point) plus a sink that
forces the result: the ``noop`` writer for registered queries, the Arrow
collect for ``io.to_arrow``.

Why these workloads (all run closed-loop: one driver thread issues the
next op when the previous one has returned):

* ``columnar`` — fletcher's JVM column compute and string kernels
  (``queries/columnar.py``, ``queries/strings.py``), only ops whose plan
  has no Python exec node.  The data is small, so per-op fixed costs
  dominate: py4j construction round-trips, Catalyst and the job-launch
  floor.  It barely touches shuffles, Python workers, writes or cached
  subplans.
* ``curation`` — the LLM-data pipelines of ``queries/dedup.py`` and
  ``queries/textpipe.py``: many jobs per op, shuffle-heavy, jobs at
  construction time, and persisted shingle/signature subplans that the
  dedup family shares through Spark's cache manager.  No Python workers,
  no writes.
* ``arrow_io`` — the Arrow boundary in both directions: pandas/Arrow UDF
  ops and the multimodal decoders (Python exec nodes), write-then-read
  round-trips through parquet, JSONL, CSV and ORC, and direct
  ``io.from_arrow`` / ``io.to_arrow`` calls on a seeded ``pa.Table``.
  The only workload where Python workers and the write path do the work.

Each list is a subset of its modules' ops, chosen to cover those layers
while a whole run (cold JVM, warm-up, timed passes, oracle gate) stays
within the time one run may take.  The lists also keep op_p50 and op_p90
inside a cluster of ops with similar latency: a percentile that falls in
the gap between two such clusters jumps from run to run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    #: noop passes after the cold pass before timing starts.  One pass does
    #: not finish JIT warm-up: pass times keep falling for ~10 s of work.
    warm_passes: int
    #: typical warm pass wall time on 4 cores; ``--seconds`` is turned into
    #: a fixed number of timed passes with it, so that every run takes its
    #: median over the same pass positions on the JIT warm-up curve
    pass_s: float
    #: rows of the seeded Arrow table (0: the workload makes no direct calls)
    arrow_rows: int = 0


WORKLOADS = {
    "columnar": Workload(
        ops=(
            "reductions_numeric",
            "reductions_mode_percentile",
            "reductions_bool_any_all",
            "isna_fillna",
            "kleene_logic",
            "fillna_ffill_bfill",
            "date_arith_extract",
            "value_counts",
            "unique_distinct",
            "factorize_dense_codes",
            "decimal_exact_money",
            "str_trim_pad",
            "str_split_partition",
            "str_extract_regex",
        ),
        warm_passes=2,
        pass_s=2.9,
    ),
    "curation": Workload(
        ops=(
            "dedup_exact",
            "dedup_minhash_lsh",
            "dedup_incremental_batch",
            "pipeline_curate_corpus",
            "text_ngrams_top",
            "contamination_ngram_overlap",
            "pack_training_sequences",
            "text_pii_redact",
            "text_vocab_idf",
            "text_repetition",
        ),
        warm_passes=1,
        pass_s=4.2,
    ),
    "arrow_io": Workload(
        ops=(
            "udf_prefix_length",
            "udf_grouped_map_zscore",
            "mm_decode_stub",
            "io_shard_roundtrip",
            "io_jsonl_roundtrip",
            "io_csv_roundtrip",
            "io_orc_roundtrip",
            "io.from_arrow",
            "io.to_arrow",
        ),
        warm_passes=1,
        pass_s=3.5,
        arrow_rows=200_000,
    ),
}


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[], object]
    sink: Callable[[object], object]
    #: the op's collected result for the oracle gate: pandas for registered
    #: queries, a ``pa.Table`` for the direct Arrow calls
    result: Callable[[], object]


def noop_sink(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def make_ops(workload: Workload, spark, data_dir: str, arrow_table) -> list[Op]:
    """Bind every op of ``workload`` to a session and the generated data."""
    from fletcher_spark import io
    from fletcher_spark.queries import registry

    arrow_path = os.path.join(data_dir, "arrow_table.parquet")
    ops = []
    for name in workload.ops:
        if name == "io.from_arrow":
            build = lambda: io.from_arrow(spark, arrow_table)  # noqa: E731
            ops.append(Op(name, build, noop_sink, lambda b=build: io.to_arrow(b())))
        elif name == "io.to_arrow":
            build = lambda: io.read_parquet(spark, arrow_path)  # noqa: E731
            ops.append(Op(name, build, io.to_arrow, lambda b=build: io.to_arrow(b())))
        else:
            fn = registry.QUERIES[name]
            build = lambda fn=fn: fn(spark, data_dir)  # noqa: E731
            ops.append(Op(name, build, noop_sink, lambda b=build: b().toPandas()))
    return ops
