"""Query selection of the oracle runner (tools/check_queries.py):
parsed from the command line alone, no SparkSession."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import check_queries  # noqa: E402

REG = ["q1", "q2", "q3", "q4", "q5"]


def test_no_names_runs_smoke_and_every_query():
    assert check_queries.select([], REG) == (True, REG, check_queries.DEFAULT_SF)


def test_window_selects_a_slice():
    assert check_queries.select(["--window", "2", "1"], REG)[:2] == (False, ["q2", "q3"])
    # a window running past the end is clipped, not an error
    assert check_queries.select(["--window", "10", "4"], REG)[1] == ["q5"]


def test_names_select_those_queries_in_order():
    smoke, names, sf = check_queries.select(["--sf", "/data/sf1", "q4", "q1"], REG)
    assert (smoke, names, sf) == (False, ["q4", "q1"], "/data/sf1")


def test_window_and_names_are_exclusive(capsys):
    with pytest.raises(SystemExit):
        check_queries.select(["--window", "2", "0", "q1"], REG)


def test_fail_line_shows_first_differing_row():
    import pandas as pd

    class _Frame:
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

        df = toPandas

    spark_out = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    oracle_out = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "x", "c"]})
    duck = type("Duck", (), {"sql": lambda self, q: _Frame(oracle_out)})()
    ok, line = check_queries.check(None, duck, lambda s, sf: _Frame(spark_out), "q", "q1", "sf")
    assert not ok and line.startswith("FAIL q1: rows 3/3 cols_match=True first_diff_rows=[1]")
    assert "'b'" in line.splitlines()[1] and "'x'" in line.splitlines()[2]
