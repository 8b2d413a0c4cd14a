"""Oracle check of the registered queries, the way the correctness
contract of ``__spark_entry__`` is scored: a PLAIN SparkSession (no
fletcher_spark session factory, so runtime confs must self-apply
through ``load_tables``), DuckDB views over the parquet tables, and
every result compared to its ``oracle_sql()`` text through
``tests/conftest.pandas_canon`` (sorted columns, type-tagged cells,
sorted rows).  Prints one status line per query and a SUMMARY line;
exit code 0 iff all green.

Usage:
  python tools/check_queries.py [--sf DIR]                    entry smoke x2, then every query
  python tools/check_queries.py [--sf DIR] --window N OFFSET  queries()[OFFSET:OFFSET+N]
  python tools/check_queries.py [--sf DIR] <query> [...]      the named queries

``queries()`` is in registration order, so a window is the same slice
on every run.  ``--sf`` defaults to sf0.01, the scale the contract is
scored at.
"""
import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from tests.conftest import SF_DIR, TABLES, pandas_canon  # noqa: E402

# sf0.01 sits next to the sf0.001 tables the test suite reads
DEFAULT_SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def select(argv: list[str], registered: list[str]) -> tuple[bool, list[str], str]:
    """(run the entry smoke?, query names in run order, data dir) for
    the command line ``argv``; starts no Spark."""
    ap = argparse.ArgumentParser(prog="check_queries.py")
    ap.add_argument("--sf", default=DEFAULT_SF, metavar="DIR")
    ap.add_argument("--window", nargs=2, type=int, metavar=("N", "OFFSET"))
    ap.add_argument("names", nargs="*")
    a = ap.parse_args(argv)
    if a.window and a.names:
        ap.error("--window and query names are exclusive")
    if a.window:
        n, off = a.window
        return False, registered[off:off + n], a.sf
    if a.names:
        return False, a.names, a.sf
    return True, list(registered), a.sf


def check(spark, duck, fn, oracle: str | None, name: str, sf: str) -> tuple[bool, str]:
    """Run one query against its oracle; (green?, status line)."""
    ps = fn(spark, sf).toPandas()
    if oracle is None:
        return True, f"ROWSONLY {name}: {len(ps)} rows"
    rs, cs = pandas_canon(ps, name)
    ro, co = pandas_canon(duck.sql(oracle).df(), name)
    if cs == co and rs == ro:
        return True, f"OK {name}: {len(rs)} rows"
    line = f"FAIL {name}: rows {len(rs)}/{len(ro)} cols_match={cs == co}"
    if cs == co and len(rs) == len(ro):
        diff = [i for i, (x, y) in enumerate(zip(rs, ro)) if x != y]
        line += f" first_diff_rows={diff[:3]}\n  spark : {rs[diff[0]]}\n  oracle: {ro[diff[0]]}"
    return False, line


def main(argv: list[str]) -> int:
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    smoke, names, sf = select(argv, list(qs))

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("check-queries")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    smoke_ok = True
    if smoke:
        r1 = e.entry(spark)
        n1 = len(r1.collect())
        r2 = e.entry(spark)
        smoke_ok = n1 > 0 and r2.schema == r1.schema and len(r2.collect()) == n1
        print(f"{'OK' if smoke_ok else 'FAIL'} entry smoke x2: {n1} rows", flush=True)

    bad = 0
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in names:
        if name not in qs:
            bad += 1
            print(f"UNKNOWN {name}", flush=True)
            continue
        t0 = time.time()
        try:
            ok, line = check(spark, duck, qs[name], oracles.get(name), name, sf)
        except Exception:
            ok, line = False, f"ERR {name}: {traceback.format_exc(limit=2).splitlines()[-1]}"
        bad += not ok
        print(f"{line} ({time.time() - t0:.1f}s)", flush=True)
    print(f"SUMMARY: {len(names) - bad}/{len(names)} green", flush=True)
    spark.stop()
    return 0 if smoke_ok and not bad else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
