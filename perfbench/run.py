"""Closed-loop, one-client benchmark of the presto_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process is one client on one Spark
session (``local[4]``): it sets the engine up, then sends the workload's
queries one after another, each only after the previous one has
returned, in an order drawn from ``--seed``.  The run measures one pass
over the workload, which takes about ``run_seconds`` of BENCHMARK.json
on 4 cores; ``--seconds`` is accepted so that every benchmark shares one
command line, and it does not change the work.  Every result is checked
against its DuckDB answer afterwards.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` spans are recorded
around the calls into each engine layer and the metrics are the
per-layer ones.  README.md next to this file defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def _pin_env() -> None:
    """Fix the engine's environment before pyspark or the engine load."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Python workers import the engine's UDF modules by name.
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_SUBMIT_OPTS=" ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: set-up, warm-up, measured pass, result check."""

    def __init__(self, workload, seed: int, trace: bool):
        from perfbench import measure

        self.m = measure
        self.wl = workload
        self.seed = seed
        self.tracer = measure.Tracer() if trace else None
        self.results: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def set_up(self, imports_s: float, data_dir: str) -> None:
        """From the engine's imports (``imports_s``, already spent) to the
        moment the first query can run, its first Spark job and Python
        workers included."""
        from presto_spark.session import get_spark, tune_for_input

        if self.tracer:
            self.tracer.current = (-1, "setup")
        t0 = time.perf_counter()
        self.spark = self._timed(get_spark, "session.get_spark")("perfbench")
        self._timed(tune_for_input, "catalog.tune_for_input")(self.spark, data_dir)
        self.runner = self.wl.set_up(self.spark, data_dir)
        _start_workers(self.spark)
        self.setup_s = imports_s + time.perf_counter() - t0
        self.counters = self.m.SparkCounters(self.spark)

    def _timed(self, fn, name: str):
        return self.tracer.timed(fn, name) if self.tracer else fn

    def instrument(self) -> None:
        """Time every call the engine makes into the named layers' public
        functions, by rebinding each module's reference to them."""
        from presto_spark.functions import dialect, registry
        from presto_spark.sources import catalog

        targets = {
            id(dialect.translate): (dialect.translate, "dialect.translate"),
            id(registry.register_functions):
                (registry.register_functions, "registry.register_functions"),
            id(registry.register_geo_sql_functions):
                (registry.register_geo_sql_functions, "registry.register_geo"),
            id(registry.register_llm_sql_functions):
                (registry.register_llm_sql_functions, "registry.register_llm"),
            id(catalog.register_tables): (catalog.register_tables, "catalog.register_tables"),
        }
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("presto_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit and hit[0] is val and val.__module__ != mod_name:
                    setattr(mod, attr, self.tracer.timed(val, hit[1]))

    # -- warm-up and measured pass -----------------------------------------
    def measure(self, items) -> float:
        jvm = self.counters.jvm_pid
        for item in items[:self.wl.warm_up]:
            self._untraced(item, 0)
        self.host0, cpu0 = self.m.host_sample(), self.m.cpu_snapshot(jvm)
        t0 = time.perf_counter()
        order = list(items)
        random.Random(self.seed).shuffle(order)
        one = self._traced if self.tracer else self._untraced
        for qid, item in enumerate(order, 1):
            self.results.append(one(item, qid))
        wall = time.perf_counter() - t0
        self.host1, cpu1 = self.m.host_sample(), self.m.cpu_snapshot(jvm)
        self.cpu_s = sum(cpu1[k] - cpu0[k] for k in cpu0)
        self.mem_mb = self.counters.jvm_retained_mb() + self.m.vm_hwm_mb("self")
        return wall

    def _untraced(self, item, qid: int) -> dict:
        steal0 = self.m.host_steal_s()
        t0 = time.perf_counter()
        try:
            df = self.runner(item)
            out = {"rows": df.collect()}
        except Exception as e:  # a failing query is counted; the run goes on
            out = {"error": repr(e)}
        out.update(item=item, s=time.perf_counter() - t0,
                   steal_s=self.m.host_steal_s() - steal0)
        if "rows" in out:
            out["cols"] = df.columns
        return out

    def _traced(self, item, qid: int) -> dict:
        m, tr, cn = self.m, self.tracer, self.counters
        build = "engine.sql" if self.wl.engine else "queries.build"
        host0, cpu0 = m.host_sample(), m.cpu_snapshot(cn.jvm_pid)
        out = {"item": item}
        tr.current = (qid, None)
        with tr.span("query") as root:
            root.label = item.name
            tr.current = (qid, "query")
            try:
                cn.set_group(f"q{qid}.build")
                with tr.span(build):
                    tr.current = (qid, build)
                    df = self.runner(item)
                tr.current = (qid, "query")
                cn.set_group(f"q{qid}.exec")
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec.collect"):
                    out["rows"] = df.collect()
            except Exception as e:  # a failing query is counted; the run goes on
                out["error"] = repr(e)
        out["s"] = root.seconds
        host1, cpu1 = m.host_sample(), m.cpu_snapshot(cn.jvm_pid)
        out["steal_s"] = host1["steal_s"] - host0["steal_s"]
        cn.drain()
        build_jobs = cn.job_ids(f"q{qid}.build")
        jobs = build_jobs + cn.job_ids(f"q{qid}.exec")
        root.counts.update(cn.stage_totals(jobs), build_jobs=len(build_jobs),
                           jobs=len(jobs), steal_s=out["steal_s"],
                           loadavg=host1["loadavg"],
                           **{f"cpu_{k}": cpu1[k] - cpu0[k] for k in cpu0})
        if "rows" in out:
            out["cols"] = df.columns
            root.counts.update(
                {f"phase_{k}_ms": v for k, v in cn.phases_ms(df).items()})
        return out

    # -- results ----------------------------------------------------------
    def check(self, answers) -> int:
        from perfbench.oracle import mismatch

        failed = 0
        for r in self.results:
            why = r.get("error") or mismatch(answers[r["item"].name], r["cols"], r["rows"])
            if why:
                failed += 1
                print(f"FAIL {r['item'].name}: {why[:300]}", file=sys.stderr)
        return failed

    def end_to_end(self, wall: float, failed: int) -> dict[str, tuple[float, str]]:
        lat = [r["s"] for r in self.results]
        n = len(lat)
        completed = sum("error" not in r for r in self.results)
        return {
            "throughput_qps": (completed / wall, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_p75_s": (statistics.quantiles(lat, n=4, method="inclusive")[2], "s"),
            "cpu_s_per_query": (self.cpu_s / n, "s"),
            "passed_frac": ((n - failed) / n, "ratio"),
            "setup_s": (self.setup_s, "s"),
            "mem_mb": (self.mem_mb, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        spans = self.tracer.spans

        def setup(*names):
            return sum(s.seconds for s in spans if s.trace_id == -1 and s.name in names)

        roots = [s for s in spans if s.name == "query"]
        by_name: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s in spans:
            if s.trace_id > 0 and s.name != "query":
                by_name[s.name] = by_name.get(s.name, 0.0) + s.seconds
                calls[s.name] = calls.get(s.name, 0) + 1
        wall = sum(r.seconds for r in roots)
        top = ("engine.sql", "queries.build", "catalyst.plan", "exec.collect")
        gap = wall - sum(by_name.get(k, 0.0) for k in top)

        def tot(key):
            return sum(r.counts.get(key, 0.0) for r in roots)

        translate_s = by_name.get("dialect.translate", 0.0)
        return {
            "session.get_spark_s": (setup("session.get_spark"), "s"),
            "catalog.register_tables_s": (
                setup("catalog.register_tables", "catalog.tune_for_input"), "s"),
            "registry.register_functions_s": (setup("registry.register_functions"), "s"),
            "registry.register_geo_s": (setup("registry.register_geo"), "s"),
            "registry.register_llm_s": (setup("registry.register_llm"), "s"),
            "dialect.translate_s": (translate_s, "s"),
            "dialect.translate_calls": (calls.get("dialect.translate", 0), "count"),
            "engine.sql_s": (by_name.get("engine.sql", 0.0) - translate_s, "s"),
            "catalyst.parse_ms": (tot("phase_parsing_ms"), "ms"),
            "catalyst.analysis_ms": (tot("phase_analysis_ms"), "ms"),
            "catalyst.optimization_ms": (tot("phase_optimization_ms"), "ms"),
            "catalyst.planning_ms": (tot("phase_planning_ms"), "ms"),
            "catalyst.plan_s": (by_name.get("catalyst.plan", 0.0), "s"),
            "queries.build_s": (by_name.get("queries.build", 0.0), "s"),
            "queries.build_jobs": (tot("build_jobs"), "count"),
            "queries.build_share": (by_name.get("queries.build", 0.0) / wall, "ratio"),
            "exec.collect_s": (by_name.get("exec.collect", 0.0), "s"),
            "exec.jobs": (tot("jobs"), "count"),
            "exec.stages": (tot("stages"), "count"),
            "exec.tasks": (tot("tasks"), "count"),
            "exec.failed_tasks": (tot("failed_tasks"), "count"),
            "exec.task_cpu_s": (tot("task_cpu_s"), "s"),
            "exec.task_run_s": (tot("task_run_s"), "s"),
            "exec.gc_s": (tot("gc_s"), "s"),
            "exec.input_bytes": (tot("input_bytes"), "B"),
            "exec.shuffle_read_bytes": (tot("shuffle_read_bytes"), "B"),
            "exec.shuffle_write_bytes": (tot("shuffle_write_bytes"), "B"),
            "exec.cpu_per_wall": (tot("task_cpu_s") / wall, "ratio"),
            "python_workers.cpu_s": (tot("cpu_workers"), "s"),
            "driver.cpu_s": (tot("cpu_driver"), "s"),
            "jvm.cpu_s": (tot("cpu_jvm"), "s"),
            "host.steal_s": (tot("steal_s"), "s"),
            "host.loadavg": (tot("loadavg") / len(roots), "load"),
            "trace.wall_per_query_s": (wall / len(roots), "s"),
            "trace.gap_share": (gap / wall, "ratio"),
        }

def _start_workers(spark) -> None:
    """Run one trivial job through a pandas UDF: the first Spark job and
    the start of the Python workers, which a new client pays once."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def same(ids):
        return ids

    spark.range(0, 4 * CPUS, 1, CPUS).select(same("id")).collect()


def _stop_spark() -> None:
    """Stop Spark, if it started, and wait for the JVM (which takes its
    Python workers down with it) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def main(argv=None) -> int:
    args = _parse(argv)
    _pin_env()
    missing = [p for p in ("presto_spark/__init__.py", "tools/diffcheck.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found; run it from the "
              "root of a checkout of the engine", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    import presto_spark.engine  # noqa: F401  (set-up counts the imports)
    import presto_spark.queries  # noqa: F401
    imports_s = time.perf_counter() - t0

    from perfbench import measure, oracle

    data_dir = oracle.ensure_data(CACHE, wl.sf)
    items = wl.items()
    answers = oracle.expected(CACHE, data_dir, {i.name: i.oracle for i in items})
    measure.reset_peak_rss()  # the data and oracle work is not the engine's

    run = Run(wl, args.seed, bool(args.trace))
    if run.tracer:
        run.instrument()
    try:
        run.set_up(imports_s, data_dir)
        wall = run.measure(items)
    finally:
        _stop_spark()
    failed = run.check(answers)
    n = len(run.results)
    metrics = run.per_layer() if run.tracer else run.end_to_end(wall, failed)
    if run.tracer:
        run.tracer.dump(os.path.join(
            CACHE, "trace", f"{wl.name}-seed{args.seed}.json"))
    print(f"perfbench: {wl.name} seed={args.seed} queries={n} "
          f"statements={len(items)} setup_s={run.setup_s:.3f} "
          f"host_steal_s={run.host1['steal_s'] - run.host0['steal_s']:.2f} "
          f"worst_query_steal_s={max(r['steal_s'] for r in run.results):.2f} "
          f"loadavg={run.host0['loadavg']:.2f}->{run.host1['loadavg']:.2f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": n, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
