#!/usr/bin/env python3
"""Benchmark of the fuzzy-match engine and the dedup pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process per run: it starts Spark at
``local[<cores>]``, runs one warm-up pass, then
``--seconds`` / (the workload's typical pass time) timed passes, at
least ``MIN_PASSES``. Every pass, warm-up or timed, runs on its own
freshly generated input set, and every pass's output is checked.

The last stdout line is one JSON
object: ``correct``, ``attempted`` (passes), ``failed`` (passes whose
output failed a check) and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``.

The traced run adds one traced pass after the untimed ones, wrapping
each of the workload's layer calls in a span, and writes the spans and
metrics to ``.perfbench_work/traces/<workload>-<seed>.json``. It fails
if a per-layer metric is missing that the workload does not declare
unused.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import proc
from spans import COUNTED_SPANS, COUNTERS, Tracer, find_event_log, group_counters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 3
#: untraced passes the traced run times for the tracing overhead
REFERENCE_PASSES = 2


def _environment(work: str) -> int:
    """Pin where Spark, the JVM and Python workers write, and the
    core count, before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM, the launcher included: temp files here, no hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    return cpus


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


class Run:
    def __init__(self, wl, seed: int, seconds: float, trace: bool, work: str, cpus: int):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.cpus = cpus
        self.pass_dir = os.path.join(work, "inputs")
        self.events = os.path.join(work, "events")
        self.spark = None
        self.tr = Tracer()

    def key(self, label) -> str:
        return f"{self.wl.name}:{self.seed}:{label}"

    def start_spark(self):
        from queryengine_spark.session import get_spark
        conf = {"spark.ui.showConsoleProgress": "false",
                # the run forces a JVM GC before every pass, which lets the
                # ContextCleaner run; the engine's 45 s GC timer would
                # instead land inside a random pass and add seconds of
                # GC CPU to it
                "spark.cleaner.periodicGC.interval": "1h"}
        if self.trace:
            os.makedirs(self.events, exist_ok=True)
            conf |= {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file:{self.events}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext

    def prepare(self, label, warmup: bool = False):
        p = self.wl.generate(self.key(label), warmup)
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        os.makedirs(self.pass_dir)
        self.wl.write(p, self.pass_dir)
        return p

    def setup(self) -> None:
        """Start a session and run one warm-up pass on an input set of
        the same shape, so that codegen, the JIT and the Python workers
        are ready."""
        self.start_spark()
        p = self.prepare("warm", warmup=True)
        self.wl.check(p, self.wl.run(self.spark, self.pass_dir)())
        if p.errors:
            raise RuntimeError(f"warm-up output is wrong: {p.errors[:3]}")

    def timed_pass(self, label):
        """One pass on a fresh input set; ``start_s`` is when its
        measurement starts, in seconds since process start."""
        p = self.prepare(label)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        p.start_s = proc.since_start_s()
        cpu0 = proc.cpu_s()
        t0 = time.perf_counter()
        output = self.wl.run(self.spark, self.pass_dir)
        p.wall = time.perf_counter() - t0
        p.cpu = proc.cpu_s() - cpu0
        self.wl.check(p, output())
        return p

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None


def _report(p) -> None:
    for e in p.errors[:5]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cpus = _environment(work)
    try:
        specs = _metric_specs()
        import workloads
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the engine or BENCHMARK.json: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    run = Run(wl, args.seed, args.seconds, bool(args.trace), work, cpus)
    try:
        result = _execute(run, specs, base)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _execute(run: Run, specs: dict, base: str) -> dict:
    wl = run.wl
    run.setup()
    # a fixed pass count per workload, so every run of it takes the
    # same path through JIT warm-up
    n_passes = REFERENCE_PASSES if run.trace else max(
        MIN_PASSES, round(run.seconds / wl.pass_s))
    passes = []
    for i in range(n_passes):
        passes.append(run.timed_pass(i))
        _report(passes[-1])
    setup_s = passes[0].start_s
    path = wl.candidate_path(run.spark, run.pass_dir)
    path_ok = path == wl.expected_dedup_terms
    if not path_ok:
        print(f"perfbench: candidate path {path}, expected {wl.expected_dedup_terms}",
              file=sys.stderr)
    print(f"perfbench: workload={wl.name} seed={run.seed} cpus={run.cpus} "
          f"digest={passes[0].digest} dedup_terms={path} setup_s={setup_s:.2f} "
          f"pass_s={[round(p.wall, 2) for p in passes]} "
          f"peak_rss_mb={proc.peak_rss_mb():.0f}")

    missing: list = []
    if not run.trace:
        metrics = {
            "rows_per_s": statistics.median(wl.rows(p) / p.wall for p in passes),
            "cpu_s": statistics.median(p.cpu for p in passes),
            "setup_s": setup_s,
            "recall": statistics.median(p.recall for p in passes),
            "precision": statistics.median(p.precision for p in passes),
        }
        units = specs["end_to_end"]
    else:
        traced = run.prepare("traced")
        values = _traced(run, traced, passes, path)
        passes.append(traced)
        _report(traced)
        units = specs["per_layer"]
        missing = missing_layers(values, units, wl.unused)
        if missing:
            print(f"perfbench: per-layer metrics not measured: {missing}", file=sys.stderr)
        # a layer the workload declares unused reads 0
        metrics = {name: values.get(name, 0) for name in units}
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        run.tr.dump(os.path.join(base, "traces", f"{wl.name}-{run.seed}.json"),
                    {"workload": wl.name, "seed": run.seed, "cpus": run.cpus,
                     "measured": sorted(values), "metrics": metrics})
    failed = sum(bool(p.errors) for p in passes)
    return {
        "correct": failed == 0 and path_ok and not missing,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def missing_layers(values: dict, names, unused: tuple) -> list[str]:
    """The per-layer metrics in ``names`` that were not measured and
    whose layer the workload does not declare unused."""
    return [n for n in names if n not in values and not n.startswith(unused)]


def _traced(run: Run, p, untraced: list, path) -> dict:
    """One traced pass plus the measurements around it; returns every
    per-layer value it measured."""
    wl, tr, spark = run.wl, run.tr, run.spark
    with tr.span("pass") as whole:
        with tr.layers(wl.layers):
            output = wl.run(spark, run.pass_dir)
    wl.check(p, output())
    m = dict(tr.values)
    m.update(wl.traced_extras(spark, tr))
    m["peak_rss_mb"] = proc.peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    run.stop()
    run.spark = None
    counters = group_counters(find_event_log(run.events, app_id))

    for name in COUNTED_SPANS:
        # a layer that ran has a span and Spark jobs in its group
        if tr.wall(name) is not None and name in counters:
            m[f"{name}_s"] = tr.wall(name)
            for c in COUNTERS:
                m[f"{name}.{c}"] = counters[name][c]
    m["session.start_s"] = tr.wall("session.start")
    if path is not None:
        m["fuzzy_join.dedup_terms"] = path
    if m.get("fuzzy_join.candidate_pairs"):
        m["fuzzy_join.prune_keep_ratio"] = m["fuzzy_join.topk_rows"] / m["fuzzy_join.candidate_pairs"]
    if m.get("similarity.refine_pairs"):
        refine_s = tr.wall("similarity.refine")
        m["similarity.refine_useful_ratio"] = m["fuzzy_join.matched"] / m["similarity.refine_pairs"]
        m["similarity.udf_overhead_ratio"] = tr.cpu("similarity.refine") / (
            m["similarity.refine_pairs"] * m["similarity.kernel_us_per_pair"] * 1e-6)
        m["similarity.refine_core_util"] = counters.get("similarity.refine", {}).get(
            "task_run_s", 0) / (refine_s * run.cpus)
    if m.get("dedup.cc_rounds"):
        cc = tr.wall("dedup.cc")
        m["dedup.cc_s_per_round"] = cc / m["dedup.cc_rounds"]
        m["dedup.cc_driver_gap_s"] = cc - counters.get("dedup.cc", {}).get("job_union_s", 0)
    children = sum(s.wall_s for s in tr.spans if s.parent == "pass")
    m["trace.pass_s"] = whole.wall_s
    m["trace.unattributed_s"] = whole.wall_s - children
    m["trace.overhead_ratio"] = whole.wall_s / statistics.median(q.wall for q in untraced) - 1
    return m


if __name__ == "__main__":
    sys.exit(main())
