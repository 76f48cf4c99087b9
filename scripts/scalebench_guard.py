#!/usr/bin/env python3
"""SCALEBENCH ledger guard (r16 verdict item #6), run by check.sh.
merge_ledgers.py `scale` unions working-tree extras over the git-HEAD
base, so a normal subset re-measure can only ADD or UPDATE entries —
but an accidental working-tree revert (a stale file restored from a
branch, a truncated write) would silently DROP queries from
SCALEBENCH_LOCAL.json and the scale-exponent coverage claim
("211/211 exponents, zero superlinear") would quietly shrink.

Guard: every query key present in HEAD's SCALEBENCH_LOCAL.json must
still exist in the working tree's. Exponent VALUES may move in either
direction (they are re-measured, not best-known minima, so there is
no monotone direction to enforce), so only key coverage is guarded.
Exit 1 listing every dropped key.
"""
import json
import subprocess
import sys


def main():
    out = subprocess.run(["git", "show", "HEAD:SCALEBENCH_LOCAL.json"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        print("scalebench_guard: no committed SCALEBENCH_LOCAL.json; skipping")
        return
    head = json.loads(out.stdout).get("queries", {})
    try:
        with open("SCALEBENCH_LOCAL.json") as f:
            tree = json.load(f).get("queries", {})
    except (FileNotFoundError, json.JSONDecodeError) as e:
        sys.exit(f"scalebench_guard: working-tree SCALEBENCH_LOCAL.json "
                 f"unreadable ({e}) while HEAD has {len(head)} entries")
    dropped = sorted(set(head) - set(tree))
    if dropped:
        print("SCALEBENCH_LOCAL lost entries vs HEAD (ledger clobber?):")
        for k in dropped:
            print(f"  DROPPED {k}")
        print("Re-measures go through merge_ledgers.py scale, which unions "
              "over the HEAD base and cannot drop keys.")
        sys.exit(1)
    n_new = len(set(tree) - set(head))
    print(f"scalebench_guard: OK ({len(tree)} entries, {n_new} new vs HEAD)")


if __name__ == "__main__":
    main()
