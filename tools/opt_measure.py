#!/usr/bin/env python
"""Round-12 optimization measurement harness.

For each named query: capture the ``.explain("formatted")`` plan into
``plans/<query>_<tag>.txt`` (gitignored; ``--out-dir`` overrides) and
time the noop-sink execution with bench.py's ``time_queries`` (warm-up,
interleaved best-of-N, sub-second micro-reps), so isolated before/after
numbers are comparable with the committed BENCH_stats snapshots.

Usage:
  python tools/opt_measure.py --tag before --reps 5 q1 q2 ...
  python tools/opt_measure.py --tag after  --reps 5 q1 q2 ...
  python tools/opt_measure.py --time-only --reps 5 q1 ...   (no plan files)
  python tools/opt_measure.py --plan-only q1 ...            (no timing)

Respects $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_str(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="before|after: plan file suffix")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--time-only", action="store_true")
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--out-dir", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = args.out_dir or os.path.join(repo, "plans")
    os.makedirs(out_dir, exist_ok=True)

    from bench import time_queries
    from flink_tornadovm_artifact_spark.queries import QUERIES
    from flink_tornadovm_artifact_spark.session import get_spark

    names = list(args.queries)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="opt_measure")

    if args.tag and not args.time_only:
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(explain_str(df))
            print(f"plan -> {path}", file=sys.stderr)

    if args.plan_only:
        return

    stats = time_queries(spark, QUERIES, names, sf_dir, args.reps, "opt_measure")
    print(json.dumps({"stats": stats, "sf_dir": sf_dir, "n": args.reps}))


if __name__ == "__main__":
    main()
