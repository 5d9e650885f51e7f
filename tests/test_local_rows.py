"""Driver-held rows become one-partition literal relations.

`catalog.local_rows` builds a DataFrame from tuples the driver holds as
typed literals `inline`d over a one-partition range. A DataFrame made
with `createDataFrame(list)` is a Python RDD instead: each action on it
ships tasks to Python workers, and a global sort over it samples first.
These tests pin that `local_rows` returns what `createDataFrame` would,
that its plan holds no Python RDD, and that the package calls
`createDataFrame` nowhere.
"""

from __future__ import annotations

import math

import pytest

from mini_hive_server_spark import registry
from mini_hive_server_spark.catalog import local_rows

from .conftest import SF_SMOKE
from .test_lifecycle_calls import _name, _package_calls

_SCHEMA = "i int, l long, d double, s string, b boolean"
_CASES = {
    "nulls": [(None, None, None, None, None), (1, 2, 3.0, "x", True)],
    "strings": [
        (1, 0, 0.0, "it's", False),
        (2, 0, 0.0, 'back\\slash "quoted"', False),
        (3, 0, 0.0, "héllo wörld 漢字 🙂", False),
        (4, 0, 0.0, "", False),
    ],
    "longs": [(1, 2**31, 0.0, "a", True), (2, 2**40 + 7, 0.0, "b", True), (3, -(2**33), 0.0, "c", True)],
    "doubles": [(1, 0, 1e9, "a", True), (2, 0, -0.0, "b", True), (3, 0, float("nan"), "c", True)],
    "empty": [],
}


def _key(v):
    """A value's identity: NaN equals itself, -0.0 differs from 0.0."""
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else v.hex())
    return (type(v).__name__, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_rows_equals_python_rows_and_runs_on_the_jvm(spark, case):
    rows = _CASES[case]
    new = local_rows(spark, rows, _SCHEMA)
    old = spark.createDataFrame(rows, _SCHEMA)
    assert new.schema == old.schema
    got = [[_key(v) for v in r] for r in new.collect()]
    assert got == [[_key(v) for v in r] for r in old.collect()]
    assert "LogicalRDD" in _plan(old) and "LogicalRDD" not in _plan(new)
    lineage = new._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_sorted_local_rows_plan_no_exchange(spark):
    df = local_rows(spark, [(2, "b"), (1, "a")], "k int, v string").orderBy("k")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]


def test_bfs_census_is_a_literal_relation(spark):
    df = registry.all_specs()["graph_bfs_3hop"].fn(spark, SF_SMOKE)
    assert "LogicalRDD" not in _plan(df), _plan(df)


def test_no_create_dataframe_in_package():
    sites = [site for site, call in _package_calls() if _name(call) == "createDataFrame"]
    assert sites == [], "build driver-held rows with catalog.local_rows"
