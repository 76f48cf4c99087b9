#!/usr/bin/env python3
"""Ledger-merge automation for SCALEBENCH_LOCAL.json (r14 verdict
item #6). The merge rule for subset ScaleBench runs used to live in
prose, and one slip clobbers the ledger; this script IS the rule:

  merge_ledgers.py scale <subset.json>
      Merge a SCALEBENCH subset run's "queries" entries over the
      git-HEAD SCALEBENCH_LOCAL.json (NOT the working copy — a prior
      unmerged subset must not become the base), preserving every
      other top-level field from HEAD unless the subset run carried a
      fresh d16_check/d12_skew_check.

check.sh runs scripts/scalebench_guard.py separately, so a working
tree that dropped any HEAD entry fails the build.
"""
import json
import subprocess
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def git_head(path):
    out = subprocess.run(["git", "show", f"HEAD:{path}"], cwd=".",
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"refusing to merge: cannot read HEAD:{path} ({out.stderr.strip()})")
    return json.loads(out.stdout)


def merge_scale(subset_path):
    subset = load(subset_path)
    base = git_head("SCALEBENCH_LOCAL.json")
    merged = dict(base)
    qs = dict(base.get("queries", {}))
    # r15 ADVICE: basing on git-HEAD alone silently DISCARDS a prior
    # uncommitted merge's entries when two subset runs are merged
    # without a commit between them — the exact ledger-clobber class
    # this script exists to prevent. Union the working tree's queries
    # into the HEAD base first: they are real measurements either way
    # (a prior merge's output, or a direct subset run that overwrote
    # the file), and the shrink guard below still catches anything
    # destructive. Invalid JSON in the tree is a hard stop — that is
    # not a ledger, and guessing would hide whatever truncated it.
    try:
        tree = load("SCALEBENCH_LOCAL.json")
    except FileNotFoundError:
        tree = base
    except json.JSONDecodeError:
        sys.exit("working-tree SCALEBENCH_LOCAL.json is not valid JSON — "
                 "restore it (git checkout) before merging")
    tree_qs = tree.get("queries", {})
    uncommitted = {q: v for q, v in tree_qs.items()
                   if base.get("queries", {}).get(q) != v}
    if uncommitted:
        print(f"working tree differs from HEAD: keeping "
              f"{len(uncommitted)} uncommitted entries "
              f"({', '.join(sorted(uncommitted)[:6])}"
              f"{'...' if len(uncommitted) > 6 else ''})")
        qs.update(tree_qs)
        for k in ("d16_check", "d12_skew_check"):
            if k in tree:
                merged[k] = tree[k]
    new_qs = subset.get("queries", {})
    if not new_qs:
        sys.exit(f"refusing to merge {subset_path}: no 'queries' entries")
    qs.update(new_qs)
    merged["queries"] = qs
    for k in ("d16_check", "d12_skew_check"):
        if k in subset:
            merged[k] = subset[k]
    if len(merged["queries"]) < len(base.get("queries", {})):
        sys.exit("merge would SHRINK the queries ledger — aborting")
    with open("SCALEBENCH_LOCAL.json", "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")
    print(f"== SCALEBENCH_LOCAL: {len(new_qs)} entries merged over HEAD base, "
          f"{len(merged['queries'])} total ==")


def main():
    if len(sys.argv) < 3 or sys.argv[1] != "scale":
        sys.exit(__doc__)
    merge_scale(sys.argv[2])


if __name__ == "__main__":
    main()
