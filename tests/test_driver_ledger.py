"""The driver-coverage ledger (DRIVER_CHECKED.json) and the driver window
derived from it.

The verification driver oracle-checks only the first 50 entries of
``__spark_entry__.queries()``, which are the ledger's ``window``. The
ledger is regenerated from CORRECTNESS_r*.json and a plan-fingerprint
pass by tools/update_driver_ledger.py at the start of each round.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest

from flink_tornadovm_artifact_spark.queries import ORACLE, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tools.update_driver_ledger import driver_window  # noqa: E402

LEDGER_PATH = os.path.join(REPO, "DRIVER_CHECKED.json")


@pytest.fixture(scope="module")
def ledger():
    assert os.path.exists(LEDGER_PATH), (
        "DRIVER_CHECKED.json missing — run `python tools/update_driver_ledger.py`"
    )
    with open(LEDGER_PATH) as f:
        return json.load(f)


def test_ledger_is_fresh(ledger):
    """CORRECTNESS_r*.json rounds must be folded into the ledger —
    otherwise the window is derived from stale coverage. The
    single newest file may postdate the ledger (the driver writes it at
    round END, after the ledger was rebuilt at round start), so exactly
    one round of lag is tolerated; two is a skipped update."""
    on_disk = sorted(
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    acceptable = (on_disk, on_disk[:-1])
    assert ledger["rounds"] in acceptable, (
        f"ledger rounds {ledger['rounds']} != CORRECTNESS files {on_disk}; "
        "run `python tools/update_driver_ledger.py`"
    )


def test_driver_window_ranks_unverified_stalest_first():
    """Changed and never-verified queries rank ahead of verified ones,
    stalest first, and the window stops at 50."""
    names = [f"q{i:03d}" for i in range(70)]
    fingerprint = {q: f"fp-{q}" for q in names}
    green = {q: [1 + i % 5] for i, q in enumerate(names)}
    green_fp = dict(fingerprint)
    green_fp["q010"] = "stale"  # plan changed since it went green (round 1)
    green_fp["q011"] = "stale"  # round 2
    del green_fp["q002"]  # green in round 3, no recorded fingerprint
    del green["q020"], green_fp["q020"]  # never green
    ledger = {
        "oracle_backed": names,
        "green": green,
        "fingerprint": fingerprint,
        "green_fingerprint": green_fp,
    }
    window = driver_window(ledger)
    assert len(window) == 50
    assert window[:4] == ["q020", "q010", "q011", "q002"]
    verified = [q for q in names if q not in window[:4]]
    assert window[4:] == sorted(verified, key=lambda q: (green[q], q))[:46]


def test_stored_window_is_derived(ledger):
    assert ledger["window"] == driver_window(ledger)


def test_ledger_registry_names_are_live(ledger):
    """Round-11 guard (VERDICT r10 What's-wrong 2): the ledger's
    `registered_asof` map must be EXACTLY the live registry. A query
    renamed between registration and its first driver row left a
    phantom `dedup_bloom_ingest` row in round 10 (232 ledger rows vs
    231 live queries) that nothing could catch; the regenerator now
    prunes dead names and this assertion makes any future slip red.
    The ``fingerprint`` map must cover the same names, or the window is
    ranked over a stale registry."""
    live = set(QUERIES)
    for key in ("registered_asof", "fingerprint"):
        ledger_names = set(ledger[key])
        assert ledger_names == live, (
            f"{key}: phantom ledger rows: {sorted(ledger_names - live)}; "
            f"unregistered live queries: {sorted(live - ledger_names)} — "
            "run `python tools/update_driver_ledger.py`"
        )


def test_rows_only_exemption_is_exact(ledger):
    """Round 10 closed the ledger's last rows-only hole: q49 now emits
    tolerance-banded booleans + exact anchors and carries an oracle.
    Pin the exemption set EMPTY so it can't silently grow."""
    no_oracle = sorted(set(QUERIES) - set(ORACLE))
    assert no_oracle == []
