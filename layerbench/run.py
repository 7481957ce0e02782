#!/usr/bin/env python3
"""Layer benchmark: times the engine's public functions from outside.

    python3 layerbench/run.py --workload sql_first_call --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is one fresh process with its own
``local[nproc]`` SparkSession. It sets up once (session, seeded inputs,
and a warm-up pass over the workload's calls on other, tiny inputs) and
reports process start to the first timed call as ``setup_s``; then it
runs passes over the workload's calls until ``--seconds`` of calls have
been timed, checks every output against a reference that does not use
Spark, and prints one JSON object as its last stdout line. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics from a separate run with the event log and per-phase job groups
on, plus the tracing overhead. ``--smoke`` swaps in tiny inputs. A
preceding stdout line carries ungated detail: the warm-up pass, every
pass and call time and the host-noise probe before and after the passes.

All files (inputs, Spark scratch, event logs) live under
``.layerbench_work/`` in the current directory and are removed on exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(1, os.getcwd())

from workloads import GRAPH_CALLS  # noqa: E402

HEAP = "2g"
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {
    "pass_s": "s",
    "call_p50_s": "s",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}

KERNELS = ["vector_add", "matmul_rows", "dft", "pi_estimation"]


def per_layer_units() -> dict[str, str]:
    units = {
        "queries.build_s": "s", "queries.build_jobs": "count",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "execute.wall_s": "s", "execute.jobs": "count", "execute.stages": "count",
        "execute.tasks": "count", "execute.task_run_s": "s", "execute.gc_s": "s",
        "execute.shuffle_read_mb": "MiB", "execute.shuffle_write_mb": "MiB",
        "execute.spill_mb": "MiB", "execute.failed_tasks": "count",
        "memo.repeat_s": "s", "memo.repeat_jobs": "count",
    }
    for shape, algs in GRAPH_CALLS.items():
        for alg in algs:
            units[f"graph.{shape}.{alg}_s"] = "s"
            units[f"graph.{shape}.{alg}_jobs"] = "count"
        units[f"graph.{shape}.s_per_job"] = "s"
    for k in KERNELS:
        units[f"kernels.{k}_s"] = "s"
        units[f"kernels.{k}_numpy_s"] = "s"
    units.update({
        "kernels.arrow_hop_s": "s", "kmeans.iter_s": "s", "logreg.iter_s": "s",
        "driver.collect_s": "s", "driver.result_rows": "count",
        "trace.pass_s": "s", "trace.overhead_s": "s",
    })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    return p.parse_args(argv)


class Bench:
    """One run: owns the Spark session, the work directory and the
    workload, and stops them all in :meth:`close`."""

    def __init__(self, args):
        import numpy as np

        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.np = np
        self.make = WORKLOADS[args.workload]
        self.work = os.path.join(os.getcwd(), ".layerbench_work", args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        # Spark and Python scratch stay inside the work directory; an
        # inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        self.spark = None
        self.gateway_proc = None
        self.warmup_s = 0.0
        self.pids: set[int] = {os.getpid()}

    # ---------------------------------------------------------- session

    def start(self, eventlog: bool):
        from flink_tornadovm_artifact_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        w = self.work
        conf = {
            "spark.local.dir": f"{w}/spark-local",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            # the heap is committed and touched up front, so peak_rss_mb
            # reads off-heap and Python memory rather than GC timing
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}/tmp"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(eventlog).lower(),
        }
        if eventlog:
            conf["spark.eventLog.dir"] = f"file://{w}/eventlog"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            app_name="layerbench", cpus=NPROC, driver_memory=HEAP, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def setup(self, eventlog: bool):
        """Session, seeded inputs and a warm-up pass; returns (workload,
        seconds).

        The warm-up pass makes the workload's ``warmup_calls`` once on
        tiny inputs of their own (the ``--smoke`` sizes, from another
        seed), so the timed passes find the JVM's JIT and Spark's code
        generation warm. Its answers are not checked and serve no timed
        call: the timed passes read other inputs under other paths."""
        t = time.perf_counter()
        spark = self.start(eventlog)
        wl = self.make(self.np.random.default_rng(self.args.seed), self.work, self.args.smoke)
        wl.prepare(spark)
        w = time.perf_counter()
        root = os.path.join(self.work, "warmup")
        os.makedirs(root)
        warm = self.make(self.np.random.default_rng([self.args.seed, 1]), root, True)
        warm.prepare(spark)
        for call in warm.warmup_calls():
            call.execute(call.build())
        self.warmup_s = time.perf_counter() - w
        return wl, time.perf_counter() - t

    def close(self):
        """Stop the session and the JVM, then wait for every process the
        run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.pids.update(self._tree())
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 20
        others = self.pids - {os.getpid()}
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in others):
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)

    def _tree(self) -> list[int]:
        from spans import process_tree

        jvm = int(self.spark._jvm.ProcessHandle.current().pid())
        return process_tree(jvm)

    def peak_rss(self) -> tuple[float, dict]:
        from spans import peak_rss_mb, rss_by_process

        self.pids.update(self._tree())
        return peak_rss_mb(self.pids), rss_by_process(self.pids)

    # ----------------------------------------------------------- passes

    def run_pass(self, wl, tracer, record: list):
        """Time one pass; returns (pass seconds, [(call, output, spans)])."""
        total = 0.0
        outs = []
        for call in wl.calls():
            spans = []
            try:
                built, s1 = tracer.run(call.name, "build", call.build)
                spans.append(s1)
                out, s2 = tracer.run(call.name, "execute", call.execute, built)
                spans.append(s2)
            except Exception:
                traceback.print_exc()
                built = out = None
            total += sum(s.seconds for s in spans)
            outs.append((call, built, out, spans))
            record.append({"call": call.name, "s": round(sum(s.seconds for s in spans), 4)})
        return total, outs

    def check(self, outs) -> tuple[int, int]:
        attempted = failed = 0
        for call, _built, out, spans in outs:
            attempted += 1
            ok = False
            if len(spans) == 2:
                try:
                    ok = bool(call.check(out))
                except Exception:
                    traceback.print_exc()
            if not ok:
                print(f"check failed: {call.name}", file=sys.stderr)
                failed += 1
        return attempted, failed

    def timed_passes(self, wl, tracer, seconds: float):
        passes, calls, record = [], [], []
        attempted = failed = 0
        all_outs = []
        while True:
            t, outs = self.run_pass(wl, tracer, record)
            passes.append(t)
            calls += [sum(s.seconds for s in sp) for *_x, sp in outs if len(sp) == 2]
            a, f = self.check(outs)
            attempted, failed = attempted + a, failed + f
            all_outs.append(outs)
            if sum(passes) >= seconds:
                return passes, calls, attempted, failed, all_outs, record


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def untraced(bench: Bench, seconds: float, startup_s: float):
    """End-to-end metrics; ``startup_s`` (interpreter start to the
    set-up) is charged to the set-up, so ``setup_s`` runs from process
    start to the first timed call, less the host-noise probe."""
    from spans import Tracer, host_noise_s

    noise_before = host_noise_s()
    wl, setup_s = bench.setup(eventlog=False)
    setup_s += startup_s
    passes, calls, attempted, failed, _outs, record = bench.timed_passes(
        wl, Tracer(bench.spark, False), seconds
    )
    rss, rss_detail = bench.peak_rss()
    metrics = {
        "pass_s": median(passes),
        "call_p50_s": median(calls),
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }
    detail = {
        "warmup_pass_s": bench.warmup_s, "passes_s": passes, "calls": record, "rss_mb": rss_detail,
        "host_noise_before_s": noise_before, "host_noise_after_s": host_noise_s(),
    }
    return metrics, attempted, failed, detail


def traced(bench: Bench, seconds: float):
    """Per-layer metrics from a run shaped like an untraced one (the same
    set-up and warm-up pass, then passes for ``seconds``), but with the
    Spark event log on and every timed call phase under its own job group.
    ``trace.pass_s`` compares with an untraced run's ``pass_s``;
    ``trace.overhead_s`` is the driver time spent in the tracing calls
    themselves."""
    from spans import Tracer, catalyst_phases, covered_seconds, read_event_log

    wl, _s = bench.setup(eventlog=True)
    tracer = Tracer(bench.spark, True)
    passes, _calls, attempted, failed, all_outs, record = bench.timed_passes(wl, tracer, seconds)
    overhead = tracer.overhead_s
    n = len(passes)

    extra: dict[str, float] = {}
    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    rows = 0
    eager = set()  # calls that run their jobs and return plain values
    for outs in all_outs:
        for call, built, out, _spans in outs:
            if hasattr(built, "_jdf"):
                t = time.perf_counter()
                for k, v in catalyst_phases(built).items():
                    catalyst[k] += v
                overhead += time.perf_counter() - t
            else:
                eager.add(call.name)
            rows += out.num_rows if hasattr(out, "num_rows") else (
                len(out) if hasattr(out, "__len__") else int(out is not None)
            )
    if wl.name == "sql_first_call":
        # memo layer: a second call of each query on the last pass's path
        for call, *_rest in all_outs[-1]:
            tracer.run(call.name, "repeat", lambda c=call: c.execute(c.build()))
    if hasattr(wl, "numpy_math"):
        import numpy as np

        for k, fn in wl.numpy_math().items():
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            extra[f"kernels.{k}_numpy_s"] = float(np.median(ts))
        hop = wl.arrow_hop()
        extra["kernels.arrow_hop_s"] = median(
            [tracer.run("arrow_hop", "hop", hop)[1].seconds for _ in range(3)]
        )
    app_id = bench.spark.sparkContext.applicationId
    bench.pids.update(bench._tree())
    bench.spark.stop()  # flushes the event log
    bench.spark = None
    groups = read_event_log(os.path.join(bench.work, "eventlog"), app_id)

    m = {k: 0.0 for k in per_layer_units()}
    m.update(extra)
    layer_of = {c.name: c for outs in all_outs for c, *_r in outs}
    for sp in tracer.spans:
        g = groups.get(sp.group)
        call = layer_of.get(sp.call)
        layer = call.layer if call else ""
        if sp.phase == "repeat":
            m["memo.repeat_s"] += sp.seconds / n
            m["memo.repeat_jobs"] += sp.jobs / n
            continue
        if sp.phase == "hop":
            continue
        if layer == "queries" and sp.phase == "build":
            m["queries.build_s"] += sp.seconds / n
            m["queries.build_jobs"] += sp.jobs / n
        if sp.phase == "execute":
            m["execute.wall_s"] += sp.seconds / n
            m["execute.jobs"] += sp.jobs / n
            if g:
                for f in ("stages", "tasks", "task_run_s", "gc_s", "shuffle_read_mb",
                          "shuffle_write_mb", "spill_mb", "failed_tasks"):
                    m[f"execute.{f}"] += getattr(g, f) / n
        if sp.phase == "execute" or sp.call in eager:
            covered = covered_seconds(g.job_intervals) if g else 0.0
            m["driver.collect_s"] += max(0.0, sp.seconds - covered) / n
        if layer == "graph":
            shape, alg = call.meta["shape"], call.meta["alg"]
            m[f"graph.{shape}.{alg}_s"] += sp.seconds / n
            m[f"graph.{shape}.{alg}_jobs"] += sp.jobs / n
        if layer == "kernels":
            m[f"kernels.{sp.call}_s"] += sp.seconds / n
        if layer in ("kmeans", "logreg"):
            m[f"{layer}.iter_s"] += sp.seconds / n / call.meta["iters"]
    for shape, algs in GRAPH_CALLS.items():
        s = sum(m[f"graph.{shape}.{a}_s"] for a in algs)
        j = sum(m[f"graph.{shape}.{a}_jobs"] for a in algs)
        m[f"graph.{shape}.s_per_job"] = s / j if j else 0.0
    m["catalyst.analysis_s"] = catalyst["analysis"] / n
    m["catalyst.optimization_s"] = catalyst["optimization"] / n
    m["catalyst.planning_s"] = catalyst["planning"] / n
    m["driver.result_rows"] = rows / n
    m["trace.pass_s"] = median(passes)
    m["trace.overhead_s"] = overhead / n
    detail = {"passes_s": passes, "calls": record}
    return m, attempted, failed, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import flink_tornadovm_artifact_spark  # noqa: F401
    except ImportError as exc:
        print(f"layerbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2
    bench = Bench(args)
    startup_s = time.perf_counter() - T_PROCESS
    try:
        if args.trace:
            metrics, attempted, failed, detail = traced(bench, args.seconds)
            units = per_layer_units()
        else:
            metrics, attempted, failed, detail = untraced(bench, args.seconds, startup_s)
            units = END_TO_END
    finally:
        bench.close()
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
