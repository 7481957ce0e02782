"""Bench-claim drift guard (round 11 — VERDICT r10 What's-wrong 1).

Round 10 committed prose ("+4.1% vs r9 ... zero regressions beyond
spread") that described an INTERMEDIATE bench snapshot; the final
committed BENCH_stats.json read +13.1% median / +7.8% best. The lesson:
a round-over-round claim in committed prose must be DERIVABLE from the
committed artifacts, mechanically. These tests enforce that:

- every ``bench-delta:`` claim line in SCALE.md names two committed
  snapshot files and the delta it asserts; the test recomputes the
  delta from those files and fails on drift;
- the standing BENCH_stats.json covers EVERY registered query (the
  round-10 full-registry mode), so "covers the full registry" prose
  can never silently stale the way "ALL 224 registered queries" did;
- registry-count claims of the form "all N registered queries" in the
  standing docs match the live registry.

Claim-line grammar (one per comparison, anywhere in SCALE.md):

    bench-delta: OLD.json -> NEW.json common=N best=+X.X% median=+Y.Y%

Percentages are of the summed best/median over the common-query set,
rounded to one decimal — exactly what tools/bench_compare.py prints.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from tools.bench_compare import delta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CLAIM_RE = re.compile(
    r"bench-delta:\s*(\S+)\s*->\s*(\S+)\s*"
    r"common=(\d+)\s*best=([+-]\d+\.\d)%\s*median=([+-]\d+\.\d)%"
)


def _delta(old_path: str, new_path: str) -> tuple[int, float, float]:
    with open(os.path.join(REPO, old_path)) as f:
        old = json.load(f)["stats"]
    with open(os.path.join(REPO, new_path)) as f:
        new = json.load(f)["stats"]
    common, best, median = delta(old, new)
    return len(common), best[2], median[2]


def _claims() -> list[tuple[str, str, int, float, float]]:
    with open(os.path.join(REPO, "SCALE.md")) as f:
        text = f.read()
    return [
        (m.group(1), m.group(2), int(m.group(3)), float(m.group(4)), float(m.group(5)))
        for m in CLAIM_RE.finditer(text)
    ]


def test_scale_md_has_a_bench_delta_claim():
    assert _claims(), (
        "SCALE.md carries no machine-checkable `bench-delta:` claim line — "
        "the round-over-round paragraph must derive from committed artifacts"
    )


@pytest.mark.parametrize("claim", _claims(), ids=lambda c: f"{c[0]}->{c[1]}")
def test_bench_delta_claims_match_artifacts(claim):
    old_path, new_path, n_common, best_pct, median_pct = claim
    got_common, got_best, got_median = _delta(old_path, new_path)
    assert (got_common, got_best, got_median) == (
        n_common,
        best_pct,
        median_pct,
    ), (
        f"SCALE.md claims {old_path} -> {new_path}: common={n_common} "
        f"best={best_pct:+.1f}% median={median_pct:+.1f}%, but the committed "
        f"artifacts derive common={got_common} best={got_best:+.1f}% "
        f"median={got_median:+.1f}% — rerun tools/bench_compare.py and "
        "update the claim"
    )


def test_snapshot_covers_full_registry():
    """The standing BENCH_stats.json must cover every registered query
    (round-10 full-registry mode, `SPARK_GRAFT_BENCH_FULL=1`): a perf
    regression anywhere in the registry must be visible as an artifact
    diff. A round that registers new queries must re-record the
    snapshot before it closes."""
    from flink_tornadovm_artifact_spark.queries import QUERIES

    with open(os.path.join(REPO, "BENCH_stats.json")) as f:
        stats = json.load(f)["stats"]
    missing = sorted(set(QUERIES) - set(stats))
    extra = sorted(set(stats) - set(QUERIES))
    assert not missing and not extra, (
        f"BENCH_stats.json vs registry — missing: {missing}; stale: {extra}. "
        "Re-record with SPARK_GRAFT_BENCH_FULL=1 SPARK_GRAFT_BENCH_REPS=5."
    )


def test_registry_count_claims_in_docs_are_live():
    """Any 'all N registered queries' claim in the standing docs must
    match the live registry (VERDICT r10 What's-wrong 3: SCALE.md said
    224 when the registry was 231). Historical narration that names a
    round ('the registry grew to 224 in round 10') doesn't match this
    pattern and may keep its dated counts."""
    from flink_tornadovm_artifact_spark.queries import QUERIES

    pat = re.compile(r"[Aa]ll\s+(\d+)\s+registered\s+queries")
    bad = []
    for doc in ("SCALE.md", "SURVEY.md", "README.md"):
        path = os.path.join(REPO, doc)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for i, line in enumerate(f, 1):
                for m in pat.finditer(line):
                    if int(m.group(1)) != len(QUERIES):
                        bad.append(f"{doc}:{i} says 'all {m.group(1)}'")
    assert not bad, f"stale registry counts (live={len(QUERIES)}): {bad}"
