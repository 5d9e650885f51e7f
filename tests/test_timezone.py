"""Zone independence: the external driver builds its OWN vanilla
SparkSession, which inherits the host timezone, and the HTTP facade and
Thrift reuse one session across callers. Timestamps are bound zone-free
in the readers (`catalog.EPOCH_NTZ`), so every query matches its oracle
under any session timezone and none writes its caller's conf. These
tests run the full registry in a `newSession()` set to America/New_York
and check that its conf is identical before and after every query."""

from __future__ import annotations

import pytest

from mini_hive_server_spark import registry

from .conftest import SF_ORACLE
from .oracle_harness import compare

SPECS = registry.all_specs()
ORACLE_NAMES = sorted(SPECS)
_ZONE = "spark.sql.session.timeZone"
_NEW_YORK = "America/New_York"


@pytest.fixture(scope="module")
def new_york(spark):
    from mini_hive_server_spark.operators.graph import clear_copurchase_cache

    session = spark.newSession()
    session.conf.set(_ZONE, _NEW_YORK)
    yield session
    clear_copurchase_cache()  # drop the New York session's graph blocks


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity_under_non_utc_session(new_york, name):
    spec = SPECS[name]
    before = new_york.conf.getAll
    problems = compare(name, spec.fn(new_york, SF_ORACLE), spec.oracle, SF_ORACLE)
    assert not problems, "\n".join(problems)
    assert new_york.conf.getAll == before, f"{name} wrote its caller's conf"


def test_load_tables_leaves_caller_conf_unchanged(spark):
    """Binding the tables reads the caller's session and writes none of
    its conf: a fresh New York session keeps its zone and every other
    conf."""
    from mini_hive_server_spark.catalog import load_tables

    session = spark.newSession()
    session.conf.set(_ZONE, _NEW_YORK)
    before = session.conf.getAll
    tables = load_tables(session, SF_ORACLE)
    assert session.conf.getAll == before
    assert session.conf.get(_ZONE) == _NEW_YORK
    assert dict(tables["events"].dtypes)["ts"] == "timestamp_ntz"
