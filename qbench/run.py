"""Query benchmark for the registry's entry-point contract.

    python3 qbench/run.py --workload panel --seed 1 --seconds 10 --trace 0

One process, one SparkSession on ``local[nproc]``, one closed-loop client
that runs each workload query in turn. A query is timed from its ``q_*`` call
through ``__spark_entry__.queries()`` to the end of a ``noop`` write.

A run generates the workload's tables from ``--seed`` (qbench/datagen.py),
sets up (JVM launch, session, registry, catalog, first touch of every
table), runs one cold pass, a fixed number of untimed warm passes (the first
one collects every query and checks its rows against its DuckDB
``oracle_sql()`` twin) and a fixed number of timed passes. ``--seconds`` is recorded,
not obeyed: pass counts size the run so two commits do identical work.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` every other timed pass is traced (qbench/trace.py) and the
last line carries the per-layer metrics. The line before it carries the
host-weather diagnostics. Spans go to ``.qbench_out/trace/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".qbench_out")
sys.path.insert(0, ROOT)

from qbench import datagen, trace  # noqa: E402
from qbench.workloads import WORKLOADS, Workload  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "heap_after_gc_mb": "MB",
}
PER_LAYER = {
    "setup.session_s": "s",
    "setup.registry_s": "s",
    "setup.catalog_s": "s",
    "setup.cache_fill_s": "s",
    "wrapper.s": "s",
    "build.s": "s",
    "build.share": "ratio",
    "build.py4j_calls": "count",
    "build.jobs": "count",
    "build.job_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "materialize.calls": "count",
    "materialize.s": "s",
    "trace.overhead_s": "s",
}
# warmup_trend = median(second half of timed passes) / median(first half);
# a configuration whose timed passes still fall or rise by more than this
# is not past warm-up (checked by qbench/tests against warmup_curves.json).
WARMUP_TREND_BOUND = 0.10


def log(msg: str) -> None:
    print(f"qbench: {msg}", file=sys.stderr, flush=True)


def warmup_trend(pass_times: list[float]) -> float:
    half = len(pass_times) // 2
    first, second = pass_times[:half], pass_times[len(pass_times) - half:]
    return statistics.median(second) / statistics.median(first)


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, wl: Workload, seed: int, traced: bool, sf_dir: str, tmp: str):
        self.wl, self.seed, self.traced, self.sf_dir, self.tmp = wl, seed, traced, sf_dir, tmp
        self.rng = random.Random(seed)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.tracer = trace.Tracer()
        self.setup_times: dict[str, float] = {}

    @contextmanager
    def _phase(self, name: str):
        with self.tracer.span(f"setup.{name}") as s:
            yield
        self.setup_times[f"setup.{name}_s"] = s.duration

    def setup(self) -> float:
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["TMPDIR"] = self.tmp
        # Python UDF workers import the package from the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        t0 = time.perf_counter()
        with self._phase("session"):
            from machinelearningalgomapreduce_spark.session import get_spark

            conf = {**self.wl.core_conf, "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}"}
            self.spark = get_spark(app_name=f"qbench-{self.wl.name}", extra_conf=conf)
            for k, v in self.wl.runtime_conf.items():
                self.spark.conf.set(k, v)
        with self._phase("registry"):
            import __spark_entry__
            from machinelearningalgomapreduce_spark import registry

            self.entry, self.registry = __spark_entry__, registry
            self.qs = __spark_entry__.queries()
            self.oracles = __spark_entry__.oracle_sql()
        with self._phase("catalog"):
            from machinelearningalgomapreduce_spark.sources.catalog import load_tables

            self.tables = load_tables(self.spark, self.sf_dir, cached=self.wl.cached,
                                      cache_partitions=self.wl.cache_partitions)
        with self._phase("cache_fill"):
            for name in self.tables.names():
                self.tables[name].count()
        return time.perf_counter() - t0

    def execute(self, name: str) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.qs[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
            self.failed += 1
            log(f"{name} failed:\n{traceback.format_exc()}")
            return None
        return time.perf_counter() - t0

    def execute_traced(self, name: str, traced_qs: dict) -> float | None:
        self.attempted += 1
        try:
            return trace.run_traced(self.tracer, self.spark, traced_qs[name], self.sf_dir,
                                    self.attempted, name)
        except Exception:  # noqa: BLE001
            self.failed += 1
            log(f"{name} failed (traced):\n{traceback.format_exc()}")
            return None

    def run_pass(self, traced: bool = False) -> dict[str, float]:
        """Every query once, in a seed-drawn order; per-query seconds."""
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        if not traced:
            times = {n: self.execute(n) for n in order}
        else:
            traced_qs = trace.traced_queries(self.tracer, self.entry, self.registry)
            with trace.instrumented(self.tracer, self.spark, type(self.tables.region)):
                times = {n: self.execute_traced(n, traced_qs) for n in order}
        return {n: t for n, t in times.items() if t is not None}

    def check(self) -> int:
        """One pass that collects every query and compares its rows bit-exact
        with its DuckDB oracle; returns the number of mismatches."""
        import duckdb

        from tools.check import TABLES, canon_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        mismatches = 0
        for name in self.wl.queries:
            self.attempted += 1
            try:
                df = self.qs[name](self.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                res = con.execute(self.oracles[name])
                dcols, drows = [d[0] for d in res.description], res.fetchall()
                ok = cols == dcols and canon_rows(cols, rows) == canon_rows(dcols, drows)
            except Exception:  # noqa: BLE001
                log(f"{name} check raised:\n{traceback.format_exc()}")
                ok = False
            if not ok:
                log(f"{name}: rows differ from the DuckDB oracle")
                self.failed += 1
                mismatches += 1
        con.close()
        return mismatches

    def host_weather(self) -> dict[str, float]:
        """bench.py's trivial-scan floor and same-host DuckDB panel time."""
        import bench

        floor = min(bench.run_once(self.tables.region.select("r_regionkey"))
                    for _ in range(bench.FLOOR_PROBES))
        duck = bench.duckdb_same_host(self.sf_dir, bench.HEADLINE)
        return {"host.cached_scan_floor_s": floor, "host.duckdb_panel_s": sum(duck.values())}

    def heap_after_gc_mb(self) -> float:
        """Least heap in use over three full GCs: the pauses between them let
        Spark's ContextCleaner drop the blocks of RDDs the previous GC freed."""
        gc.collect()  # drop Python-side handles so the JVM can free their objects
        jvm = self.spark._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.2)
            used.append(heap.getHeapMemoryUsage().getUsed())
        return min(used) / 2**20

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def measure(self) -> tuple[dict, dict]:
        """The whole run; returns (reported metrics, diagnostics)."""
        marks = [("start", time.perf_counter())]

        def mark(name: str) -> None:
            marks.append((name, time.perf_counter()))

        setup_s = self.setup()
        mark("setup")
        cold = self.run_pass()
        mark("cold")
        mismatches = self.check()  # the first warm pass: untimed, so it checks the rows
        for _ in range(self.wl.warm_passes - 1):
            self.run_pass()
        mark("warm")
        plain, traced, traced_spans = [], [], []
        for i in range(self.wl.timed_passes):
            if self.traced and i % 2 == 1:
                first = len(self.tracer.spans)
                traced.append(self.run_pass(traced=True))
                traced_spans.append([s for s in self.tracer.spans[first:]
                                     if s.name == "query" and "exec.jobs" in s.attrs])
            else:
                plain.append(self.run_pass())
        mark("timed")
        host = self.host_weather()
        heap = self.heap_after_gc_mb()
        rss = self.peak_rss_mb()
        mark("host")

        pass_times = [sum(p.values()) for p in plain]
        latencies = sorted(t for p in plain for t in p.values())
        per_query = {n: statistics.median(p[n] for p in plain if n in p)
                     for n in self.wl.queries if any(n in p for p in plain)}
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times),
            "heap_after_gc_mb": heap,
        }
        diag = {
            "workload": self.wl.name, "seed": self.seed, "sf": self.wl.sf, "cores": self.cores,
            "passes": {"cold": 1, "warm": self.wl.warm_passes, "timed": len(plain),
                       "traced": len(traced)},
            "cold_pass_s": sum(cold.values()),
            "cold_query_s": cold,
            "pass_times_s": pass_times,
            "query_median_s": per_query,
            "query_latency_gmean_s": statistics.geometric_mean(per_query.values()),
            "query_latency_samples": len(latencies),
            "query_latency_p50_s": statistics.median(latencies),
            "query_latency_p90_s": latencies[min(len(latencies) - 1, int(0.9 * len(latencies)))],
            "warmup_trend": warmup_trend(pass_times),
            "warmup_trend_bound": WARMUP_TREND_BOUND,
            "peak_rss_mb": rss,
            "oracle_mismatches": mismatches,
            "phase_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            **host,
        }
        if not self.traced:
            return e2e, diag
        layers = [trace.pass_layers(self.tracer, spans, self.cores) for spans in traced_spans]
        per_layer = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        per_layer.update(self.setup_times)
        per_layer["trace.overhead_s"] = (
            statistics.median(sum(p.values()) for p in traced) - e2e["pass_s"])
        return per_layer, diag


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=0, help="recorded only; pass counts size a run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no __spark_entry__.py under {ROOT}: nothing to measure")
        return 2
    run_dir = os.path.join(OUT, f"run-{wl.name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    run = None
    try:
        sf_dir = datagen.write_tier(os.path.join(run_dir, "data"), args.seed, wl.sf)
        run = Run(wl, args.seed, bool(args.trace), sf_dir, tmp)
        values, diag = run.measure()
        diag["seconds_arg"] = args.seconds
        if args.trace:
            os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
            spans = os.path.join(OUT, "trace", f"{wl.name}-seed{args.seed}.jsonl")
            run.tracer.write_jsonl(spans)
            diag["spans"] = os.path.relpath(spans, ROOT)
    finally:
        if run is not None and hasattr(run, "spark"):
            run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"diagnostics": diag}), flush=True)
    print(json.dumps(result_line(run.failed == 0, run.attempted, run.failed, values, units)),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
