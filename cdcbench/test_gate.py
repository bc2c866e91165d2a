"""The correctness gate rejects a changed value, a lost row and a moved NULL.

    python3 -m pytest -q cdcbench/test_gate.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.gate import gate  # noqa: E402

DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
ROWS = [
    ("https://a.example/1", T0, b"<p>one</p>", "one", "en"),
    ("https://a.example/2", T0, b"<p>two</p>", "two", None),
    ("https://a.example/3", None, None, None, "de"),
]


@pytest.fixture(scope="module")
def spark():
    from gnarly_spark.session import get_spark

    return get_spark(app_name="cdcbench-test", cpus=2,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=DDL)


def test_equal_tables_pass(spark):
    g = gate(_df(spark, ROWS), _df(spark, list(reversed(ROWS))))
    assert g["ok"] and g["rows"] == 3


def test_altered_text_fails(spark):
    bad = list(ROWS)
    bad[0] = bad[0][:3] + ("one!",) + bad[0][4:]
    g = gate(_df(spark, bad), _df(spark, ROWS))
    assert not g["ok"]
    assert g["rows"] == g["replay_rows"]


def test_dropped_row_fails(spark):
    g = gate(_df(spark, ROWS[:-1]), _df(spark, ROWS))
    assert not g["ok"]


def test_null_moved_between_columns_fails(spark):
    # the same value under text instead of lang: a hash that skips NULL
    # arguments would see the same sequence of non-null values
    a = [("https://a.example/4", T0, None, None, "en")]
    b = [("https://a.example/4", T0, None, "en", None)]
    assert not gate(_df(spark, a), _df(spark, b))["ok"]
