"""tools_profile_query.py's argument parsing: a bad command line prints
the usage line and exits non-zero before any Spark session starts."""

from __future__ import annotations

import sys

import pytest

import tools_profile_query as tpq


@pytest.mark.parametrize(
    "argv",
    [
        ["q1_pricing_summary", "--reps"],
        ["q1_pricing_summary", "--reps", "two"],
        ["q1_pricing_summary", "--reps=2.5"],
        ["q1_pricing_summary", "--reps=0"],
        ["q1_pricing_summary", "--bogus"],
        [],
    ],
)
def test_bad_argv_prints_usage_and_exits_nonzero(argv, monkeypatch, capsys):
    monkeypatch.setattr(sys, "argv", ["tools_profile_query.py", *argv])
    with pytest.raises(SystemExit) as exc:
        tpq.main()
    assert exc.value.code == 2
    assert tpq.USAGE in capsys.readouterr().err


def test_both_reps_forms_parse():
    assert tpq.parse_args(["a", "--reps", "3", "b"]) == (["a", "b"], 3)
    assert tpq.parse_args(["a", "--reps=5"]) == (["a"], 5)
    assert tpq.parse_args(["a"]) == (["a"], 2)
