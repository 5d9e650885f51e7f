"""bench.time_reps, the one rep loop behind every bench phase and the
profiler, checked against a stub session; plus an end-to-end smoke run of
bench.main() on the smallest fixture."""

from __future__ import annotations

import json

import pytest

import bench


class _StubSession:
    """Just the surface time_reps touches: `catalog.clearCache` and
    `sparkContext.setJobDescription`, both logged in call order."""

    def __init__(self) -> None:
        self.log: list = []
        self.catalog = self
        self.sparkContext = self

    def clearCache(self) -> None:
        self.log.append("clear")

    def setJobDescription(self, label) -> None:
        self.log.append(("label", label))


@pytest.fixture
def clock(monkeypatch):
    """A fake perf_counter that only moves when a stub query runs, so
    every rep's duration is exactly the scripted one."""
    now = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: now[0])
    return now


def _stub_queries(clock) -> dict:
    durations = {"a": [3.0, 1.0, 2.0], "b": [0.5], "c": [1.0, 1.0, 1.0]}

    def query(name):
        def build(session, sf_dir):
            if not durations[name]:
                raise RuntimeError("boom")
            clock[0] += durations[name].pop(0)
            return name

        return build

    return {n: query(n) for n in durations}


def _action(spark):
    def run(df):
        spark.log.append(("run", df))
        return f"{df}-rows"

    return run


def test_failure_is_recorded_with_phase_and_later_queries_run(clock):
    spark = _StubSession()
    qs = _stub_queries(clock)
    failed: dict[str, str] = {}
    out = bench.time_reps(
        spark, qs, "sf", ["a", "b", "c"], "timed", reps=3,
        action=_action(spark), failed=failed,
    )
    assert failed == {"b": "timed: RuntimeError: boom"}
    assert list(out) == ["a", "c"]
    assert out["c"].result == "c-rows"
    # the cache is cleared after every rep, the failing one included
    expected: list = []
    for name, ran in (("a", 3), ("b", 1), ("c", 3)):
        for rep in range(ran):
            label = f"timed:{name}#{rep}"
            expected += [("label", label), ("run", name), "clear"]
        if name == "b":
            expected += [("label", "timed:b#1"), "clear"]
    expected.append(("label", None))
    assert spark.log == expected


def test_median_and_spread_come_from_the_reps(clock):
    spark = _StubSession()
    out = bench.time_reps(
        spark, _stub_queries(clock), "sf", ["a"], "timed", reps=3,
        action=_action(spark),
    )
    reps = out["a"]
    assert [secs for _, _, secs in reps.marks] == [3.0, 1.0, 2.0]
    assert [label for label, _, _ in reps.marks] == [
        "timed:a#0", "timed:a#1", "timed:a#2",
    ]
    assert reps.median == 2.0
    assert reps.spread == [1.0, 3.0]


def test_failure_without_failed_dict_goes_to_stderr_only(clock, capsys):
    spark = _StubSession()
    out = bench.time_reps(
        spark, _stub_queries(clock), "sf", ["b", "c"], "noop",
        reps=3, action=_action(spark),
    )
    assert list(out) == ["c"]
    assert "# NOOP FAIL b" in capsys.readouterr().err


def test_main_smoke(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """bench.main() end to end on three headline queries. The local
    record goes to a temporary file, and the SQL confs bench's get_spark
    applies to the shared session are restored afterwards."""
    record_path = tmp_path / "bench_local.json"
    names = ("q1_pricing_summary", "events_sessionize", "dedup_exact")
    monkeypatch.setattr(bench, "HEADLINE", names)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LOCAL", str(record_path))
    saved = spark.conf.getAll
    try:
        bench.main()
    finally:
        now = spark.conf.getAll
        for key in set(now) - set(saved):
            if spark.conf.isModifiable(key):
                spark.conf.unset(key)
        for key, value in saved.items():
            if now.get(key) != value and spark.conf.isModifiable(key):
                spark.conf.set(key, value)

    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) < 1900
    out = json.loads(line)
    assert "failed" not in out
    assert set(out["queries"]) == set(names)
    record = json.loads(record_path.read_text())
    for key in ("queries", "spread", "noop_queries", "noop_spread"):
        assert set(record[key]) == set(names), key
    assert "experiments" not in record
