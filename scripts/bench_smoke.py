#!/usr/bin/env python3
"""Bench output smoke: one subset `graft.Bench` run must emit every
measurement field with live values and end stdout with a parseable
`bench_summary` line.

Usage: bench_smoke.py <sf0.1 dir>

The subset is one plan query, selected by its full name, and one sr
drain, selected by its id (`SPARK_GRAFT_ONLY` takes both forms), with
the concurrent whole-board pass off and two cold repetitions; the full
JSON line goes to a temp file through SPARK_GRAFT_BENCH_OUT, so the
committed BENCH_LOCAL.json is never touched. Checks:
  - the full line json.loads and carries every measurement field;
  - the per-query maps are keyed by the two full names;
  - the plan query has cold > 0 and warm > 0;
  - the drain has a drain_profile with batches > 0 and a
    state_actuals entry;
  - "failed" is empty;
  - the last JSON line on stdout is a bench_summary, under 256 bytes,
    with n = 2 and failed = 0.

Run from the repo root; check.sh passes the sf0.1 directory next to
its own scale factor. About a minute.
"""
import json
import os
import subprocess
import sys
import tempfile

PLAN = "b21_vpin_rolling"
DRAIN = "sr18_stream_startoffsets_replay"
DRAIN_ID = "sr18"
FIELDS = ("queries", "queries_warm", "shuffle_bytes_written",
          "state_actuals", "drain_profile", "io_pressure_full_avg300",
          "cpu_pressure_some_avg300", "fsync_probe_ms", "job_roundtrip_ms",
          "sr_drains", "board_concurrent", "overhead", "failed")


def run_bench(sf_dir):
    """One subset Bench run; returns (parsed full line, stdout). The
    temp output is removed on every path."""
    out_fd, out_path = tempfile.mkstemp(suffix=".json",
                                        prefix="graft_benchsmoke_out_")
    os.close(out_fd)
    os.unlink(out_path)  # Bench must create it; a pre-existing empty
    #                      file would mask a Bench that wrote nothing
    try:
        env = dict(os.environ,
                   SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_ONLY=f"{PLAN},{DRAIN_ID}",
                   SPARK_GRAFT_BOARD_CONCURRENCY="0",
                   SPARK_GRAFT_BENCH_REPEATS="2",
                   SPARK_GRAFT_BENCH_OUT=out_path)
        r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           env=env, capture_output=True, text=True)
        if r.returncode != 0 or not os.path.exists(out_path):
            print(r.stdout[-3000:])
            print(r.stderr[-2000:])
            sys.exit("bench_smoke: Bench subset run FAILED")
        with open(out_path) as f:
            return json.load(f), r.stdout
    finally:
        try:
            os.unlink(out_path)
        except FileNotFoundError:
            pass


def summary_tail(stdout):
    """The last JSON line Bench printed. Under `sbt runMain` the
    process appends its own "[success]" banner after the program's
    output and may prefix program lines with "[info] ", so scan
    backwards for the last line that starts a JSON object."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if line.startswith("{"):
            return line
    return ""


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    run, stdout = run_bench(sys.argv[1])
    bad = []

    missing = [f for f in FIELDS if f not in run]
    if missing:
        bad.append(f"full line lacks fields {missing}")
    for field in ("queries", "queries_warm", "shuffle_bytes_written"):
        keys = sorted(run.get(field, {}))
        if keys != sorted([PLAN, DRAIN]):
            bad.append(f"{field} keys {keys}, expected the full names "
                       f"{sorted([PLAN, DRAIN])}")
    cold = run.get("queries", {}).get(PLAN, -1)
    warm = run.get("queries_warm", {}).get(PLAN, -1)
    if not cold > 0:
        bad.append(f"{PLAN}: cold {cold}, expected > 0")
    if not warm > 0:
        bad.append(f"{PLAN}: warm {warm}, expected > 0")
    batches = run.get("drain_profile", {}).get(DRAIN, {}).get("batches", -1)
    if not batches > 0:
        bad.append(f"{DRAIN}: drain_profile batches {batches}, expected > 0")
    if DRAIN not in run.get("state_actuals", {}):
        bad.append(f"{DRAIN}: no state_actuals entry")
    if run.get("failed") != []:
        bad.append(f"failed is {run.get('failed')!r}, expected []")

    tail = summary_tail(stdout)
    try:
        summary = json.loads(tail).get("bench_summary")
        if summary is None:
            bad.append("the last JSON stdout line is not a bench_summary")
        else:
            if len(tail.encode()) >= 256:
                bad.append(f"bench_summary line is {len(tail.encode())} bytes "
                           "(must stay < 256 so tail captures keep it whole)")
            if summary.get("n") != 2 or summary.get("failed") != 0:
                bad.append(f"bench_summary {summary}, expected n = 2 and "
                           "failed = 0")
    except json.JSONDecodeError:
        bad.append(f"no parseable JSON summary line in stdout: {tail[:120]!r}")

    if bad:
        print("BENCH SMOKE FAILED:")
        for b in bad:
            print("  " + b)
        sys.exit(1)
    print(f"bench_smoke: OK ({PLAN} cold {cold:.3f} s warm {warm:.3f} s; "
          f"{DRAIN} {batches} batches; bench_summary tail parsed)")


if __name__ == "__main__":
    main()
