#!/usr/bin/env python3
"""Record how steady the benchmark is: two sets of untraced runs of one
commit, ten seeds per workload, written to ``layerbench/STEADINESS.json``.

    python3 layerbench/steadiness.py            # about 40 minutes

Run from the repository root with nothing else running. The sets run one
after another (set A on every workload, then set B), each run with its own
seed. For each workload and end-to-end metric the record holds the median,
quartiles (``statistics.quantiles(n=4)``), the quartile spread
(q3 - q1) / median, every value, and the second set's median relative to
the first.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = {"A": range(101, 111), "B": range(201, 211)}


def run(spec, workload: str, seed: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [*spec["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"wall_s": time.perf_counter() - t, "detail": detail, "result": result}


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model,
            "mem_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)}


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {
        "what": __doc__.split("\n\n")[0].replace("\n", " "),
        "host": host(),
        "run_seconds": spec["run_seconds"],
        "bounds": bounds,
        "sets": {},
    }
    for name, seeds in SETS.items():
        out["sets"][name] = {}
        for w in (x["name"] for x in spec["workloads"]):
            runs = []
            for s in seeds:
                runs.append(run(spec, w, s))
                r = runs[-1]
                print(name, w, s, round(r["wall_s"], 1), "failed", r["result"]["failed"],
                      {m: round(v["value"], 3) for m, v in r["result"]["metrics"].items()},
                      "host_noise_s", round(r["detail"]["host_noise_before_s"], 4), flush=True)
            res = [r["result"] for r in runs]
            noise = [r["detail"]["host_noise_before_s"] for r in runs]
            out["sets"][name][w] = {
                "seeds": list(seeds),
                "attempted": sum(r["attempted"] for r in res),
                "failed": sum(r["failed"] for r in res),
                "run_wall_s": [round(r["wall_s"], 1) for r in runs],
                "host_noise_s": noise,
                "metrics": {
                    m: summarize([r["metrics"][m]["value"] for r in res]) for m in bounds
                },
            }
            print(name, w, {m: round(v["spread"], 4)
                            for m, v in out["sets"][name][w]["metrics"].items()}, flush=True)
    a, b = out["sets"]["A"], out["sets"]["B"]
    out["median_shift"] = {
        w: {m: b[w]["metrics"][m]["median"] / a[w]["metrics"][m]["median"] - 1 for m in bounds}
        for w in a
    }
    with open(os.path.join(HERE, "STEADINESS.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out["median_shift"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
