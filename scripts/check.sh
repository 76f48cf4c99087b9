#!/bin/bash
# Dev loop: run Verify at sf0.01 then compare against the DuckDB oracle,
# then prove the compare itself is live (oracle-side mutations), then
# guard the SCALEBENCH ledger against clobbers and smoke-test Bench's
# output.
#
# pipefail (r14 ADVICE): without it the mutation gate's exit(1) was
# swallowed by a trailing `tail` and the liveness check was silently
# advisory. With it, `sbt | head` would die of SIGPIPE instead — so
# sbt logs to a file and the truncation greps the file, and the
# mutation check runs UNPIPED (its output is already short).
set -e
set -o pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
cd /root/repo
LOG=$(mktemp /tmp/graft_check_XXXX.log)
trap 'rm -f "$LOG"' EXIT
if ! sbt -batch "runMain graft.Verify $SF $OUT" >"$LOG" 2>&1; then
  echo "Verify FAILED; last 40 log lines:"
  tail -40 "$LOG"
  exit 1
fi
grep -Ev '^\[info\]' "$LOG" | grep -v 'WARN' | head -30 || true
python3 scripts/oracle_check.py "$SF" "$OUT"
(cd scripts && python3 oracle_mutation_check.py "$SF" "$OUT")
python3 scripts/scalebench_guard.py
# One subset Bench run (a plan query and an sr drain at sf0.1, next to
# $SF): every measurement field present and live, and the bench_summary
# stdout tail parses. About a minute.
python3 scripts/bench_smoke.py "$(dirname "$SF")/sf0.1"
