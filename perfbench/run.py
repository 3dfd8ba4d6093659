"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload options_interactive --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric of BENCHMARK.json
with ``--trace 0``, every per-layer metric with ``--trace 1``).

A run generates its inputs, sets up three times (a fresh Spark session,
table resolution and a warm-up each; the set-up time is their median
plus any one-time set-up such as an index build), then issues whole
rounds of requests until ``--seconds`` have passed. Untraced runs time
each request as its caller waits for it. Traced runs issue the same
rounds with every request split into construct, plan and execute under
spans and job groups; their ``trace.latency_geomean_s`` against the
``latency_geomean_s`` of an untraced run with the same seed is the
tracing overhead (``compare.py overhead``). Inputs, outputs, spans and
the captured stderr live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from checks import Checker, digest  # noqa: E402
from harness import Jobs, Layers, Tracer, force_plan, median, plan_nodes  # noqa: E402

SETUP_REPEATS = 3

# Package functions timed from outside in traced rounds: each name is
# rebound, in the module its callers look it up in at call time, to a
# wrapper that opens a span and records a sample. (module, name, metric)
INSTRUMENTED = (
    ("gapless_deribit_clickhouse_spark.pipelines.curation", "curate_corpus", "pipelines.curate_corpus_s"),
    ("gapless_deribit_clickhouse_spark.pipelines.text_dedup", "near_dedup_corpus", "pipelines.near_dedup_corpus_s"),
    ("gapless_deribit_clickhouse_spark.pipelines.packing", "chunk_documents", "pipelines.chunk_documents_s"),
    ("gapless_deribit_clickhouse_spark.pipelines.packing", "pack_sequences", "pipelines.pack_sequences_s"),
    ("gapless_deribit_clickhouse_spark.operators.connected_components", "connected_components", "operators.connected_components_s"),
    ("gapless_deribit_clickhouse_spark.sources", "collect_trades", "sources.collect_trades_s"),
)


class Run:
    """State of one run: the session, the checker and the samples."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.tracer = Tracer(False)
        self.trace_layers = Layers()
        self.layers = self.trace_layers
        self.checker = Checker()
        self.spark = None
        self.jobs: Jobs | None = None
        self.kind = "setup"  # setup | plain | traced
        self.latencies: dict[str, list[float]] = {"plain": [], "traced": []}
        self.n_ops = 0
        self.phases: dict = {}  # wall time per phase, reported on stderr

    @property
    def traced_round(self) -> bool:
        return self.kind == "traced"

    # ------------------------------------------------------------ set-up
    def new_session(self) -> None:
        from gapless_deribit_clickhouse_spark.core.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.trace_layers.add("core.session_start_s", time.perf_counter() - t)
        self.jobs = Jobs(self.spark)

    def load_table(self, sf_dir: str, name: str):
        from gapless_deribit_clickhouse_spark.core.tables import load_table

        t = time.perf_counter()
        load_table(self.spark, sf_dir, name)
        t1 = time.perf_counter()
        df = load_table(self.spark, sf_dir, name)
        self.trace_layers.add("core.load_table_cold_s", t1 - t)
        self.trace_layers.add("core.load_table_hit_s", time.perf_counter() - t1)
        return df

    def timed_call(self, metric: str, fn):
        t = time.perf_counter()
        out = fn()
        self.trace_layers.add(metric, time.perf_counter() - t)
        return out

    # ---------------------------------------------------------- requests
    def _done(self, name: str, lat: float, e2e: bool) -> None:
        self.phases.setdefault("requests", []).append([self.kind, name, round(lat, 3)])
        if e2e and self.kind in self.latencies:
            self.latencies[self.kind].append(lat)

    def query_op(self, name, metric, build, want, on_result=None, e2e=True, span=None):
        """A request that builds a DataFrame through the package and
        collects it. Traced rounds split it into construct, plan and
        execute, each under its own span and job group; the request's
        own span is ``span`` or the metric's name without ``_s``."""
        span = span or metric.rsplit("_s", 1)[0]

        def op():
            self.n_ops += 1
            traced, L = self.traced_round, self.layers
            t0 = time.perf_counter()
            try:
                if not traced:
                    pdf = build().toPandas()
                else:
                    with self.tracer.span(span, request=f"{name}#{self.n_ops}"):
                        th = threading.active_count()
                        with self.jobs.group(f"{name}:construct") as g1, self.tracer.span("bindings.construct"):
                            t = time.perf_counter()
                            df = build()
                            L.add("bindings.construct_s", time.perf_counter() - t)
                        L.count("bindings.construct_threads", threading.active_count() - th)
                        with self.tracer.span("bindings.plan"):
                            t = time.perf_counter()
                            force_plan(df)
                            L.add("bindings.plan_s", time.perf_counter() - t)
                        with self.jobs.group(f"{name}:execute") as g2, self.tracer.span("bindings.execute"):
                            t = time.perf_counter()
                            pdf = df.toPandas()
                            L.add("bindings.execute_s", time.perf_counter() - t)
            except Exception as e:  # a failed request counts; the run goes on
                self.checker.record(name, False, f"{type(e).__name__}: {e}")
                traceback.print_exc()
                return
            lat = time.perf_counter() - t0
            self._done(name, lat, e2e)
            if traced:
                L.add(metric, lat)
                for g, kind in ((g1, "construct"), (g2, "execute")):
                    jobs, tasks, failed = self.jobs.counts(g)
                    L.count(f"bindings.{kind}_jobs", jobs)
                    L.count("driver.tasks_failed", failed)
                    if kind == "execute":
                        L.count("bindings.execute_tasks", tasks)
                for k, v in plan_nodes(df).items():
                    L.count(f"plan.{k}", v)
            if on_result is not None:
                on_result(pdf)
            self.checker.expect(name, digest(pdf), want())

        return op

    def plain_op(self, name, layer, fn):
        """A request whose function runs it and returns the check to run
        once the clock has stopped: ``check() -> (ok, detail)``. Traced
        rounds record its latency as ``<name>_s`` under a span named
        ``<layer>.<name>``."""

        def op():
            self.n_ops += 1
            traced = self.traced_round
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"{layer}.{name}", request=f"{name}#{self.n_ops}"):
                    if traced:
                        with self.jobs.group(name) as g:
                            check = fn()
                    else:
                        check = fn()
                lat = time.perf_counter() - t0
                self._done(name, lat, True)
                if traced:
                    self.layers.add(f"{name}_s", lat)
                    self.layers.count("driver.tasks_failed", self.jobs.counts(g)[2])
                ok, detail = check()
            except Exception as e:  # a failed request counts; the run goes on
                self.checker.record(name, False, f"{type(e).__name__}: {e}")
                traceback.print_exc()
                return
            self.checker.record(name, ok, detail)

        return op

    # ----------------------------------------------------- tracing hooks
    def instrument(self) -> None:
        for mod_name, attr, metric in INSTRUMENTED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), metric))

    def _wrap(self, fn, metric):
        def wrapper(*a, **k):
            if not self.traced_round:
                return fn(*a, **k)
            with self.tracer.span(metric.rsplit("_s", 1)[0]):
                t = time.perf_counter()
                try:
                    return fn(*a, **k)
                finally:
                    self.layers.add(metric, time.perf_counter() - t)

        wrapper.__wrapped__ = fn
        return wrapper


def execute(run: Run, wl) -> dict:
    phases = run.phases
    t = time.perf_counter()
    wl.generate()
    phases["generate"] = time.perf_counter() - t
    setup = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        run.new_session()
        wl.setup()
        setup.append(time.perf_counter() - t)
    phases["setup"] = setup
    t = time.perf_counter()
    wl.expect()
    phases["expect"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.setup_once()
    phases["setup_once"] = time.perf_counter() - t
    setup_s = median(setup) + phases["setup_once"]
    if run.trace:
        run.tracer = Tracer(True)
        run.instrument()

    t_start = time.perf_counter()
    run.kind = "traced" if run.trace else "plain"
    run.layers = run.trace_layers if run.trace else Layers()
    rounds = 0
    while rounds == 0 or time.perf_counter() - t_start < run.seconds:
        for op in wl.round(rounds):
            op()
        rounds += 1
    run.kind = "done"
    phases["measure"] = time.perf_counter() - t_start
    phases["rounds"] = rounds
    return {"setup_s": setup_s, "rounds": rounds}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(run: Run, info: dict) -> dict:
    lat = run.latencies["plain"]
    busy = sum(lat)
    return {
        "setup_s": info["setup_s"],
        "latency_geomean_s": geomean(lat),
        "ops_per_s": len(lat) / busy if busy else 0.0,
    }


def per_layer(run: Run, info: dict, names, errors: int) -> dict:
    """Sampled metrics as medians of their samples, counted ones per
    round; a layer the workload did not exercise reports 0."""
    L = run.trace_layers
    special = {
        "driver.errors_logged": errors,
        "driver.peak_rss_mb": harness.peak_rss_mb(),
        "failed_frac": run.checker.failed / max(1, run.checker.attempted),
        "trace.latency_geomean_s": geomean(run.latencies["traced"]),
    }
    out = {}
    for name in names:
        if name in special:
            out[name] = special[name]
        elif name in L.samples:
            out[name] = L.med(name)
        else:
            out[name] = L.total(name) / info["rounds"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload and print its metrics.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gapless_deribit_clickhouse_spark", "__init__.py")):
        print("perfbench: the package is not in this checkout; nothing to measure", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    capture = harness.StderrCapture(os.path.join(work, "stderr.log"))
    run = Run(args.seed, args.seconds, bool(args.trace), work)
    metrics = None
    try:
        info = execute(run, WORKLOADS[args.workload](run))
        if args.trace:
            metrics = per_layer(run, info, units, capture.error_lines())
            run.tracer.dump(os.path.join(base, "spans", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(run, info)
    except Exception:
        traceback.print_exc()
    finally:
        if run.spark is not None:
            run.spark.stop()
            harness.stop_jvm()
        capture.restore()
    if metrics is None:
        sys.stderr.write(capture.tail())
        return 1
    for f in run.checker.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print("perfbench: phases " + json.dumps(run.phases), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.checker.failed == 0,
        "attempted": run.checker.attempted,
        "failed": run.checker.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
