"""Regenerate DRIVER_CHECKED.json, the driver-coverage ledger, and the
driver window derived from it.

The verification driver oracle-checks only the first 50 entries of
``__spark_entry__.queries()``, which puts the ledger's ``window`` first.
The window is one sort over the oracle-backed queries (``driver_window``):

    (fingerprint == green_fingerprint, last green round or 0, name)

so a query whose plan changed since it last went green, or that has never
gone green, ranks ahead of every verified one, stalest first.

Run from the repo root at the START of each round, after the driver has
written CORRECTNESS_r{N}.json for the previous round, while the code is
still what the driver checked:

    python tools/update_driver_ledger.py

The run folds every CORRECTNESS file, fingerprints every registered
query (140-155 s on a 4-core host; see ``plan_fingerprints``) and
rewrites the ledger. Its output does not depend on the host or on
PYTHONHASHSEED.

Ledger schema:
    rounds            — every round number with a CORRECTNESS file
    current_round     — the round the window is for (max(rounds) + 1)
    green             — query -> sorted rounds where the driver row passed
    checked           — query -> sorted rounds where a driver row exists
    registered_asof   — query -> first round the ledger saw it registered
                        (existing entries are never rewritten)
    oracle_backed     — registered queries with an oracle
    fingerprint       — query -> the fingerprint of the live code
    green_fingerprint — query -> its fingerprint when a round in which it
                        went green was first folded
    window            — driver_window(ledger)
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "DRIVER_CHECKED.json")
WINDOW_SIZE = 50

#: The fingerprint protocol. Partition counts, ``Range`` splits and
#: trained-weight literals in the plans follow the core count, so the
#: protocol is fixed here rather than read from the host.
SF_DIR = "/root/testdata/sf0.001"
PROTOCOL_CONF = {
    "spark.master": "local[4]",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": "4g",
    "spark.ui.enabled": "false",
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

#: Plan-text parts that vary between processes running the same code:
#: expression ids, plan ids, lambda variable names, RDD ids, observation
#: names (random UUIDs), the attribute lists of checkpointed or
#: RDD-backed relations, and what the materialized adaptive plan of a
#: cached frame reports at run time: shuffle sizes (compressed bytes
#: follow the fetch order) and the stage and codegen ids, which
#: concurrently materialized branches take in completion order.
_NORMALIZE = (
    (re.compile(r"sizeInBytes=[\d.]+ \w+"), "sizeInBytes="),
    (re.compile(r"(QueryStage\nOutput[^\n]*\nArguments: )\d+"), r"\1"),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"LogicalRDD \[[^\]]*\]"), "LogicalRDD [...]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)


def _normalized(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan.replace(SF_DIR, "<sf>")


def plan_fingerprints(queries: dict) -> dict[str, str]:
    """Build every query in ``queries`` (in order) in one fresh session
    under PROTOCOL_CONF, and return per query the sha1 of its normalized
    analyzed plan followed by the normalized physical plan of every SQL
    execution its build started, in start order. The executions are what
    tells apart queries whose built frame is a checkpoint: its analyzed
    plan is only a ``LogicalRDD``. They are read back from the event log,
    where each build runs under a job group named after its query.

    Queries that share memoized or persisted state see it built by
    whichever of them runs first, so the order is part of the protocol:
    callers pass the registry in module order."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("plan-fingerprints")
    log_dir = tempfile.mkdtemp(prefix="fingerprint-eventlog-")
    try:
        for k, v in {**PROTOCOL_CONF, "spark.eventLog.dir": log_dir}.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        sc = spark.sparkContext
        app_id = sc.applicationId
        texts = {}
        try:
            for name, fn in queries.items():
                sc.setJobGroup(name, name)
                df = fn(spark, SF_DIR)
                texts[name] = [df._jdf.queryExecution().analyzed().toString()]
        finally:
            spark.stop()
        with open(os.path.join(log_dir, app_id)) as fh:
            starts = [
                json.loads(line)
                for line in fh
                if "SparkListenerSQLExecutionStart" in line
            ]
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for ev in sorted(starts, key=lambda e: e["executionId"]):
        if ev.get("jobGroupId") in texts:
            texts[ev["jobGroupId"]].append(ev["physicalPlanDescription"])
    return {
        n: hashlib.sha1(_normalized("\n".join(parts)).encode()).hexdigest()
        for n, parts in texts.items()
    }


def driver_window(ledger: dict) -> list[str]:
    """The 50 oracle-backed queries the driver checks next: changed or
    never-verified queries first, then the stalest verified ones."""
    fp, green_fp = ledger["fingerprint"], ledger["green_fingerprint"]

    def key(q):
        return green_fp.get(q) == fp[q], max(ledger["green"].get(q, [0])), q

    return sorted(ledger["oracle_backed"], key=key)[:WINDOW_SIZE]


def _row_green(res: dict) -> bool:
    if res.get("err"):
        return False
    if not res.get("rows_match"):
        return False
    # hash/schema are None for rows-only checks; an explicit False fails
    if res.get("schema_match") is False:
        return False
    return res.get("hash_match") is not False


def build() -> dict:
    sys.path.insert(0, REPO)
    from flink_tornadovm_artifact_spark.queries import ORACLE, QUERIES

    prior = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            prior = json.load(f)

    green: dict[str, list[int]] = {}
    checked: dict[str, list[int]] = {}
    # numeric sort: lexicographic glob order breaks at round 10
    files = sorted(
        (int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1)), p)
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    rounds = [rnd for rnd, _ in files]
    for rnd, path in files:
        with open(path) as f:
            data = json.load(f)
        for name, res in data.items():
            checked.setdefault(name, []).append(rnd)
            if _row_green(res):
                green.setdefault(name, []).append(rnd)

    current = (max(rounds) + 1) if rounds else 1
    # `green`/`checked` keep historical names because they mirror the
    # CORRECTNESS files; the per-query maps below track only live names.
    registered_asof = {
        name: rnd
        for name, rnd in prior.get("registered_asof", {}).items()
        if name in QUERIES
    }
    for name in QUERIES:
        if name not in registered_asof:
            # first driver row bounds the registration round from above
            first = min(checked.get(name, [current]))
            registered_asof[name] = min(first, current)

    fingerprint = plan_fingerprints(QUERIES)
    new_rounds = set(rounds) - set(prior.get("rounds", []))
    green_fp = {
        q: f for q, f in prior.get("green_fingerprint", {}).items() if q in QUERIES
    }
    for q in QUERIES:
        if new_rounds & set(green.get(q, [])):
            green_fp[q] = fingerprint[q]

    ledger = {
        "rounds": rounds,
        "current_round": current,
        "green": {k: sorted(v) for k, v in sorted(green.items())},
        "checked": {k: sorted(v) for k, v in sorted(checked.items())},
        "registered_asof": dict(sorted(registered_asof.items())),
        "oracle_backed": sorted(ORACLE),
        "fingerprint": dict(sorted(fingerprint.items())),
        "green_fingerprint": dict(sorted(green_fp.items())),
    }
    ledger["window"] = driver_window(ledger)
    return ledger


if __name__ == "__main__":
    ledger = build()
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=1)
        f.write("\n")
    fp, green_fp = ledger["fingerprint"], ledger["green_fingerprint"]
    unverified = [q for q in ledger["oracle_backed"] if green_fp.get(q) != fp[q]]
    print(
        f"rounds={ledger['rounds']} current={ledger['current_round']} "
        f"unverified={len(unverified)} window={ledger['window']}"
    )
