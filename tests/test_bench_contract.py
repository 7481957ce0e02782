"""Bench driver-contract guards (round-9 fix; VERDICT r8 What's-wrong 2).

The verification driver tails bench.py's stdout with a bounded window
(2000 chars, observed across BENCH_r1-r8) and parses the LAST JSON line
inside it. The full per-query map outgrew that window twice — round 3
(~40 queries) and round 8 (108 queries), both recorded as
``"parsed": null``. These tests pin the round-9 contract: the final
line's payload is FIXED-SIZE (whole-set total + the immutable 20-query
r1 baseline subset only), so HEADLINE can keep growing without ever
re-breaking the parse.
"""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_baseline20_is_the_r01_recorded_set():
    with open(os.path.join(REPO, "BENCH_r01.json")) as f:
        r1 = json.load(f)
    assert list(r1["parsed"]["queries"]) == bench.BASELINE_20


def test_baseline20_subset_of_headline():
    missing = [q for q in bench.BASELINE_20 if q not in bench.HEADLINE]
    assert not missing, f"baseline queries dropped from HEADLINE: {missing}"


def test_headline_has_no_duplicates():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_contract_line_bounded_forever():
    """Worst-case render of the contract line stays under the driver's
    2000-char tail window even with maximal float widths — and stays
    fixed-size as HEADLINE grows, because only BASELINE_20 entries ride
    the line."""
    out = {
        "metric": "headline_query_seconds_sf0.1",
        "value": 99999.999,
        "unit": "sec",
        "nq": len(bench.HEADLINE),
        "baseline20_sec": 99999.999,
        "baseline20_snap_sec": 99999.999,
        "queries": {name: 99999.999 for name in bench.BASELINE_20},
        "sf": 0.1,
        "n": 99,
    }
    line = json.dumps(out)
    assert len(line) < 1900, f"{len(line)} chars — would re-break the parse"


def test_headline_queries_registered():
    from flink_tornadovm_artifact_spark.queries import QUERIES

    missing = [q for q in bench.HEADLINE if q not in QUERIES]
    assert not missing


def test_stats_clobber_guard():
    """The standing BENCH_stats snapshot survives (a) lower-rep runs,
    (b) fewer-query runs, and (c) runs at a DIFFERENT sf — the round-9
    near-miss: a subset smoke at sf0.001 slipped past the original
    same-sf-only comparison and clobbered the n=5 sf0.1 snapshot."""
    keep = bench.keep_standing_snapshot
    prev = {"sf": 0.1, "n": 5, "stats": {f"q{i}": {} for i in range(108)}}
    assert not keep(prev, 0.1, 5, 108)  # equal run may refresh
    assert not keep(prev, 0.1, 7, 108)  # more reps may refresh
    assert keep(prev, 0.1, 3, 108)  # driver n=3: keep
    assert keep(prev, 0.1, 5, 1)  # subset: keep
    assert keep(prev, 0.001, 9, 108)  # other sf: keep (round-9 hole)
