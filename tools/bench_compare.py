#!/usr/bin/env python
"""Protocol-matched comparison of two BENCH_stats.json snapshots.

Round-over-round bench deltas are only meaningful when both snapshots
were recorded under the same sampling protocol: the round-9 micro-rep
estimator lowers sub-second "best" values BY CONSTRUCTION (each visit
takes the best of 3 back-to-back executions), so a pre-r9 snapshot is
not comparable for sub-cutoff queries and this script REFUSES the
comparison unless --force is given (VERDICT r9 What's-wrong 4 /
Next 6). Snapshots self-describe via their "protocol" field.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--force]
    python tools/bench_compare.py "git:HEAD~1" BENCH_stats.json

A "git:REF" spec reads BENCH_stats.json from that git revision, so the
standing comparison is one command:
    python tools/bench_compare.py git:HEAD BENCH_stats.json

Output: aggregate delta over common queries, per-query movers beyond
the noise band (>30% AND >0.3 s, the adjudication threshold used since
round 9), and queries present on only one side.
"""

from __future__ import annotations

import json
import subprocess
import sys


def _load(spec: str) -> dict:
    if spec.startswith("git:"):
        blob = subprocess.check_output(
            ["git", "show", f"{spec[4:]}:BENCH_stats.json"]
        )
        return json.loads(blob)
    with open(spec) as f:
        return json.load(f)


def delta(old: dict, new: dict) -> tuple[list[str], tuple, tuple]:
    """Compare two ``stats`` maps over the queries both hold:
    (common names, best, median), each of the last two an
    (old_sum_s, new_sum_s, pct) triple with pct the relative change of
    the summed seconds rounded to one decimal (None on a zero old sum).
    """
    common = sorted(set(old) & set(new))

    def summed(key: str) -> tuple:
        o = sum(old[q][key] for q in common)
        n = sum(new[q][key] for q in common)
        return o, n, round(100 * (n - o) / o, 1) if o else None

    return common, summed("best"), summed("median")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv
    if len(args) != 2:
        sys.exit(__doc__)
    old, new = _load(args[0]), _load(args[1])

    po, pn = old.get("protocol"), new.get("protocol")
    if po != pn and not force:
        sys.exit(
            f"protocol mismatch — old={po} new={pn}; sub-second bests are "
            "not comparable across estimator changes (micro-reps landed "
            "round 9). Pass --force to compare anyway."
        )
    if old.get("sf") != new.get("sf") and not force:
        sys.exit(
            f"scale-factor mismatch: old sf={old.get('sf')} "
            f"new sf={new.get('sf')}. Pass --force to compare anyway."
        )

    so, sn = old["stats"], new["stats"]
    common, (to, tn, best_pct), (mo, mn, median_pct) = delta(so, sn)
    if not common or to == 0 or mo == 0:
        sys.exit("no common queries to compare (or old total is 0.0)")
    print(
        f"common {len(common)} queries: best {to:.1f}s -> {tn:.1f}s "
        f"({best_pct:+.1f}%), median {mo:.1f}s -> {mn:.1f}s "
        f"({median_pct:+.1f}%)  [n_old={old.get('n')} "
        f"n_new={new.get('n')} sf={new.get('sf')}]"
    )
    # the SCALE.md claim line, ready to paste (tests/test_bench_claim.py
    # recomputes these exact fields from the two files). Paths are
    # normalized repo-relative (ADVICE r11): an absolute or ./-prefixed
    # argv path would satisfy CLAIM_RE but only resolve on this machine
    # via os.path.join's absolute-path passthrough — not repo-portable.
    # Suppressed when a path escapes the repo (nothing portable to say).
    if not args[0].startswith("git:") and not args[1].startswith("git:"):
        import os

        repo_root = os.path.dirname(os.path.abspath(os.path.dirname(__file__)))
        rels = [os.path.relpath(os.path.abspath(a), repo_root) for a in args]
        if not any(r.startswith("..") for r in rels):
            print(
                f"    bench-delta: {rels[0]} -> {rels[1]} "
                f"common={len(common)} best={best_pct:+.1f}% "
                f"median={median_pct:+.1f}%"
            )
    movers = [
        (q, so[q]["best"], sn[q]["best"])
        for q in common
        if abs(sn[q]["best"] - so[q]["best"])
        > max(0.3 * so[q]["best"], 0.3)
    ]
    for q, o, n in sorted(movers, key=lambda m: m[1] - m[2]):
        tag = "improved" if n < o else "REGRESSED"
        print(
            f"  {tag:9s} {q:40s} {o:7.3f} -> {n:7.3f} "
            f"(old spread {so[q].get('spread', 0):.2f})"
        )
    only_old = sorted(set(so) - set(sn))
    only_new = sorted(set(sn) - set(so))
    if only_old:
        print(f"only in old ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"only in new ({len(only_new)}): {', '.join(only_new)}")


if __name__ == "__main__":
    main()
