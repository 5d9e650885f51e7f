"""Size guardrail for bench.py's single stdout JSON line.

The driver captures a bounded ~2000-char TAIL of bench.py's stdout and
parses the last line as JSON. BENCH_r07 and BENCH_r08 both came back
`parsed: null` because the line carried the per-rep spread (r7) and the
experiments + timing blocks (r8) past that budget, truncating the head.
This test makes the regression structurally unshippable (VERDICT r8 #1):
it builds the stdout record exactly as bench.main() does, at the two
worst-case extremes (every headline query timed; every headline query
failed), and pins both under 1900 chars. Growing HEADLINE past the
budget fails here, not in a lost round of bench evidence.
"""

from __future__ import annotations

import json

import bench


def _stdout_record(timings: dict[str, float], failed: dict[str, str]) -> str:
    # the REAL construction (bench.build_stdout_record), not a replica —
    # a hand-maintained copy went stale the moment main() grew a field
    # (round-10 self-review); noise marker at worst-case width: steal_s
    # four digits + decimal, load1 three digits + two decimals
    return json.dumps(
        bench.build_stdout_record(
            timings, failed, sf=0.1, steal_s=9999.9, load1=999.75,
            calibration=999.999,
        )
    )


def test_all_timed_record_fits_tail_budget():
    # worst-width medians: xxx.xxx keeps every value at 7 chars
    timings = {name: 999.999 for name in bench.HEADLINE}
    line = _stdout_record(timings, {})
    assert len(line) < 1900, f"{len(line)} chars: shrink HEADLINE or the record"
    # and it must round-trip with the driver-contract keys intact
    back = json.loads(line)
    assert set(back) == {
        "metric", "value", "unit", "queries", "sf", "subtotals", "noise",
        "calibration",
    }
    assert len(back["queries"]) == len(bench.HEADLINE)
    assert set(back["noise"]) == {"steal_s", "load1"}
    # the host-epoch yardstick rides every record (VERDICT r11 #5): a
    # future drift adjudication divides medians by this instead of
    # re-running old HEADs
    assert back["calibration"] == 999.999


def test_all_failed_record_fits_tail_budget():
    # catastrophic arm: every query failed -> queries empty, failed = names
    # only (bench.main puts tracebacks in stderr + the local record, never
    # on stdout)
    failed = {name: "warmup: Boom" for name in bench.HEADLINE}
    line = _stdout_record({}, failed)
    assert len(line) < 1900, f"{len(line)} chars: failed block breaches budget"
    back = json.loads(line)
    assert back["failed"] == sorted(bench.HEADLINE)
    # failure detail must NOT be on the stdout line
    assert "Boom" not in line


def test_headline_names_unique_and_window_sized():
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.HEADLINE10).isdisjoint(bench.EXTENDED)

def test_headline_names_all_registered():
    """A typo'd or renamed HEADLINE entry would silently burn a bench
    round as a 'failed' row instead of failing CI (round-10 self-review);
    registry.queries() resolves without a SparkSession, so pin the
    subset relation here."""
    from mini_hive_server_spark import registry

    missing = set(bench.HEADLINE) - set(registry.queries())
    assert not missing, f"HEADLINE names not in the registry: {sorted(missing)}"


def test_noise_suspect_run_never_clobbers_quiet_record(monkeypatch):
    """VERDICT r10 #3: the round-10 driver run (steal_s 1130.6)
    overwrote the committed quiet-window BENCH_local.json in place;
    only the _r10 snapshot preserved the adjudicated numbers. The
    routing must send any run the SCALE.md adjudication rule would
    reject as primary (steal_s > 30 or load1 > 2×CPUs) to a separate
    noisy path, and must honor an explicit operator override."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_BENCH_LOCAL", raising=False)
    ncpu = os.cpu_count() or 1

    # the exact r10 driver readings at a ~8-min wall: 1130 steal-seconds
    # is ~7% of wall×CPUs — must NOT land on the quiet path
    path, suspect = bench.local_record_path(1130.6, 30.02, wall_s=480.0)
    assert suspect and path == "BENCH_local_noisy.json"
    # fraction calibration (round 11): a full-load 32-core bench ALWAYS
    # accrues some steal — the committed r10 quiet record carried 96 s
    # and the round-11 quiet retry 116 s over ~6-min runs (0.8-1.6% of
    # wall×CPUs); those must stay on the quiet path, while anything
    # past 5% of wall×CPUs is suspect. The readings are 32-core ones, so
    # they scale to this host's CPUs like the edge cases below.
    wall = 360.0
    assert bench.local_record_path(
        116.0 * ncpu / 32, 21.0 * ncpu / 32, wall_s=wall
    ) == ("BENCH_local.json", False)
    quiet_edge = 0.04 * wall * ncpu
    noisy_edge = 0.06 * wall * ncpu
    assert bench.local_record_path(quiet_edge, 1.0, wall_s=wall) == (
        "BENCH_local.json", False,
    )
    assert bench.local_record_path(noisy_edge, 1.0, wall_s=wall) == (
        "BENCH_local_noisy.json", True,
    )
    # no wall time: the absolute floor applies
    assert bench.local_record_path(31.0, 1.0) == ("BENCH_local_noisy.json", True)
    assert bench.local_record_path(3.2, 1.0) == ("BENCH_local.json", False)
    # load alone over 2×CPUs
    assert bench.local_record_path(0.0, 2 * ncpu + 1.0, wall_s=wall) == (
        "BENCH_local_noisy.json", True,
    )
    # bench's own local[32] load is NOT suspect — the r10 quiet run
    # finished at load1 31 on 32 CPUs
    assert bench.local_record_path(3.2, float(min(ncpu, 2 * ncpu - 1))) == (
        "BENCH_local.json", False,
    )
    # probe gate (round 13): a degraded-epoch calibration reading marks
    # the run suspect even when steal/load pass — both degraded r13
    # attempts (probes 1.909 and 2.271) sailed through the steal rule
    assert bench.local_record_path(3.2, 1.0, wall_s=wall, calibration=1.909) == (
        "BENCH_local_noisy.json", True,
    )
    # the committed r12/r13 quiet probes stay on the quiet path
    assert bench.local_record_path(3.2, 1.0, wall_s=wall, calibration=1.349) == (
        "BENCH_local.json", False,
    )
    assert bench.local_record_path(3.2, 1.0, wall_s=wall, calibration=None) == (
        "BENCH_local.json", False,
    )
    # unadjudicable (no /proc markers): keep the canonical path
    assert bench.local_record_path(None, None) == ("BENCH_local.json", False)
    # explicit operator override wins unconditionally, but the suspect
    # flag still reaches the record's provenance field
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LOCAL", "/tmp/x.json")
    assert bench.local_record_path(1130.6, 30.02, wall_s=480.0) == (
        "/tmp/x.json", True,
    )
