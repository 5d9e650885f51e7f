#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds (guide §1/§7).

Runs the named registered queries in a dedicated session with the Spark
event log enabled, then parses the log to report, per query repetition:

* wall time of the rep,
* every job: description, duration, and the GAP since the previous job
  ended (gap = driver-side planning / Python / catalyst time),
* per-stage executor-summed metrics: run time, shuffle read/write bytes,
  input bytes, task count.

Usage: python tools_profile_query.py <query> [<query> ...] [--reps N]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys

EVENT_DIR = "/tmp/mhs_profile_events"


USAGE = "usage: python tools_profile_query.py <query> [<query> ...] [--reps N]"


def parse_args(argv: list[str]) -> tuple[list[str], int]:
    """Query names and the rep count (default 2) from `argv`. Both
    `--reps N` and `--reps=N` are accepted. Any other `--` flag, a rep
    count that is missing or not a positive integer, or no query name
    prints the usage line and exits with status 2."""

    def usage(msg: str) -> None:
        print(f"{msg}\n{USAGE}", file=sys.stderr)
        raise SystemExit(2)

    names: list[str] = []
    reps = 2
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--reps" or a.startswith("--reps="):
            if a == "--reps":
                i += 1
                val = argv[i] if i < len(argv) else ""
            else:
                val = a.split("=", 1)[1]
            if not val.isdecimal() or int(val) < 1:
                usage(f"--reps needs a positive integer, got {val!r}")
            reps = int(val)
        elif a.startswith("--"):
            usage(f"unknown flag {a!r}")
        else:
            names.append(a)
        i += 1
    if not names:
        usage("no query named")
    return names, reps


def main() -> None:
    args, reps = parse_args(sys.argv[1:])
    os.makedirs(EVENT_DIR, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import time_reps
    from mini_hive_server_spark import registry
    from mini_hive_server_spark.session import get_spark

    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": EVENT_DIR,
    }
    extra.update(json.loads(os.environ.get("SPARK_PROFILE_EXTRA_CONF", "{}")))
    spark = get_spark(app_name="mhs-profile", extra_conf=extra)
    app_id = spark.sparkContext.applicationId
    qs = registry.queries()
    from mini_hive_server_spark.catalog import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()

    # untimed executed warm-up, then the profiled reps, both through
    # bench's rep loop with the count() action
    failed: dict[str, str] = {}
    time_reps(spark, qs, sf_dir, args, "warmup", reps=1, failed=failed)
    profiled = time_reps(
        spark, qs, sf_dir, [n for n in args if n not in failed], "profile",
        reps=reps, failed=failed,
    )
    marks = [
        (label, t0, t0 + secs)
        for r in profiled.values()
        for label, t0, secs in r.marks
    ]
    spark.stop()

    # ---- parse the event log ----
    import glob as _glob

    cands = sorted(
        _glob.glob(os.path.join(EVENT_DIR, f"*{app_id}*"))
    )
    files: list[str] = []
    for c in cands:
        if os.path.isdir(c):  # Spark 4 rolling event log dir
            files.extend(sorted(_glob.glob(os.path.join(c, "events_*"))))
        else:
            files.append(c)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def _lines():
        for fp in files:
            if fp.endswith(".zstd"):
                import subprocess

                p = subprocess.run(
                    ["zstd", "-dc", fp], capture_output=True, check=True
                )
                yield from p.stdout.decode("utf-8").splitlines()
            else:
                with open(fp) as f:
                    yield from f

    if files:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "tasks": si["Number of Tasks"],
                    "t0": si.get("Submission Time", 0) / 1000.0,
                    "t1": si.get("Completion Time", 0) / 1000.0,
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["run_ms"] = st.get("run_ms", 0) + m.get("Executor Run Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read"] = (
                    st.get("sh_read", 0)
                    + srm.get("Remote Bytes Read", 0)
                    + srm.get("Local Bytes Read", 0)
                )
                st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get(
                    "Fetch Wait Time", 0
                )
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write"] = st.get("sh_write", 0) + swm.get(
                    "Shuffle Bytes Written", 0
                )
                im = m.get("Input Metrics") or {}
                st["input"] = st.get("input", 0) + im.get("Bytes Read", 0)

    for name, err in failed.items():
        print(f"\n=== {name}: FAILED {err}")
    for label, t0, t1 in marks:
        print(f"\n=== {label}: wall {t1 - t0:.3f}s ===")
        sel = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if j.get("desc") == label and "t1" in j
        ]
        prev_end = t0
        job_total = 0.0
        for jid, j in sel:
            gap = j["t0"] - prev_end
            dur = j["t1"] - j["t0"]
            job_total += dur
            print(f"  job {jid}: dur {dur:6.3f}s  gap-before {gap:6.3f}s")
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if not st or "t1" not in st or not st.get("t1"):
                    continue
                wall = st["t1"] - st["t0"] if st.get("t0") else 0
                print(
                    f"    stage {sid:4d} [{st.get('tasks', '?'):>3} tasks]"
                    f" wall {wall:6.3f}s run {st.get('run_ms', 0)/1000:7.2f}s"
                    f" in {st.get('input', 0)/1e6:8.2f}MB"
                    f" shR {st.get('sh_read', 0)/1e6:7.2f}MB"
                    f" shW {st.get('sh_write', 0)/1e6:7.2f}MB"
                    f"  {st.get('name', '')}"
                )
            prev_end = j["t1"]
        tail_gap = t1 - prev_end
        print(
            f"  jobs total {job_total:.3f}s; inter-job gaps "
            f"{(t1 - t0) - job_total - max(tail_gap, 0):.3f}s; tail gap {tail_gap:.3f}s"
        )


if __name__ == "__main__":
    main()
