"""The repo's benchmark: runs one workload's frozen list of suite gates
(``__spark_entry__.queries()``) on generated tables, in a fresh local[4]
session, into the ``noop`` sink, and checks each gate's answer against its
DuckDB oracle.

A run is a set-up (package import, session, warm-up), then a cold first
pass and four warm passes.  Each pass runs every gate once, in an order
permuted from ``--seed``; the input tables are the same for every seed.
``--seconds`` is the measuring time the pass count is sized to and a limit:
the last warm pass is skipped when measuring has taken three times that
long.  The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics and never imports the tracer;
``--trace 1`` reports the per-layer metrics (see README.md), alternating
traced and untraced warm passes to report the tracing overhead.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
"""

from __future__ import annotations

import argparse
import json
import math
import random
import statistics
import sys
import time

import gen
import harness

# a cold pass and four warm ones: warm_wall_s is a median of four and
# query_p50_s a median of 4 x (gates) warm executions.  Warm passes still
# speed up for two or three passes after the cold one; with four, the
# median lies past the fastest part of that settling
PASSES = 5
# measuring stops before the last pass past LIMIT x --seconds; a traced run
# needs its first four passes (see per_layer)
LIMIT = 3
MIN_PASSES = 4


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One benchmark run: a session, a workload, its passes and results."""

    def __init__(self, args, spec: dict, work: harness.Workdir):
        self.args = args
        self.gates: list[str] = spec["workloads"][args.workload]["gates"]
        self.work = work
        self.rng = random.Random(args.seed)
        self.passes: list[dict] = []
        self.warm_latencies: list[float] = []  # successful warm executions
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.bindings = 0
        # gate -> digest of its cold answer, which is checked against the
        # oracle; warm executions count as failed when they raise
        self.answers: dict[str, int] = {}

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Set-up, timed as ``setup_s``: import the package (and pyspark),
        launch the JVM, build the session and warm it up."""
        t0 = time.perf_counter()
        import __spark_entry__ as entry
        import polars_net_spark as pkg

        extra = None
        if self.args.trace:
            import layertrace

            extra = layertrace.STATUS_CONF
        self.spark = harness.start_session(harness.session_conf(self.work, extra))
        self.setup_s = time.perf_counter() - t0
        self.pkg = pkg
        self.queries = entry.queries()
        missing = [g for g in self.gates if g not in self.queries]
        if missing:
            raise harness.CheckoutError(f"gates not in queries(): {missing}")
        self.oracle = harness.Oracle(self.work.data, entry.oracle_sql())
        if self.args.trace:
            self.tracer = layertrace.Tracer(self.spark)
            self.tracer.count_broadcasts()

    # -- passes --------------------------------------------------------------
    def _pass_is_traced(self, p: int) -> bool:
        # traced runs: the cold pass and even warm passes are traced, so
        # traced and untraced warm passes alternate as warm-up continues
        return bool(self.args.trace) and p % 2 == 0

    def run_pass(self, p: int) -> dict:
        traced = self._pass_is_traced(p)
        tracer = self.tracer if traced else None
        if traced:
            self.bindings = tracer.install()
        order = list(self.gates)
        self.rng.shuffle(order)
        rec = {"pass": p, "traced": traced, "wall_s": 0.0, "verify_s": 0.0, "gates": {}}
        layer = _LayerPass() if traced else None
        for gate in order:
            job0 = tracer.begin_gate() if tracer else 0
            lat, df, err, marks = harness.run_gate(
                self.spark, self.queries[gate], self.work.data, self.pkg.release_caches, tracer)
            rec["wall_s"] += lat
            self.attempted += 1
            if err is None and p == 0:
                t_v = time.perf_counter()
                err, self.answers[gate] = harness.verify(self.oracle, gate, df)
                rec["verify_s"] += time.perf_counter() - t_v
            if err is None:
                if p > 0:
                    self.warm_latencies.append(lat)
            else:
                self.failures.append(f"pass {p} {gate}: {err}")
                print(f"# perfbench FAIL pass {p} {gate}: {err}", file=sys.stderr, flush=True)
            rec["gates"][gate] = round(lat, 4)
            if layer is not None and "exec" in marks:
                rec.setdefault("gate_layers", {})[gate] = layer.add_gate(tracer, marks, job0)
        if layer is not None:
            rec["layers"] = layer.totals()
        if self.tracer is not None:
            self.tracer.uninstall()
        print(f"# perfbench pass {p}{' traced' if traced else ''}: {rec['wall_s']:.3f}s",
              file=sys.stderr, flush=True)
        return rec

    def measure(self) -> None:
        """PASSES passes; past LIMIT x --seconds, no pass after MIN_PASSES."""
        t0 = time.perf_counter()
        for p in range(PASSES):
            if p >= MIN_PASSES and time.perf_counter() - t0 > LIMIT * self.args.seconds:
                print(f"# perfbench: measuring passed {LIMIT} x --seconds, {p} passes run",
                      file=sys.stderr, flush=True)
                break
            self.passes.append(self.run_pass(p))
        self.measure_s = time.perf_counter() - t0

    def teardown(self) -> None:
        self.state = self.tracer.session_state() if self.tracer else {}
        self.rss_mb = self.tracer.jvm_peak_rss_mb() if self.tracer else None
        if self.tracer is not None:
            self.tracer.close()
        self.oracle.close()

    # -- results -----------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        warm = [r["wall_s"] for r in self.passes[1:]]
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_wall_s": (self.passes[0]["wall_s"], "s"),
            "warm_wall_s": (median(warm), "s"),
            "query_p50_s": (median(self.warm_latencies), "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        traced_warm = [r for r in self.passes[1:] if r["traced"]]
        # pass 1, the first warm one, is still settling (10-15% slower than
        # passes 2-4), so the overhead compares passes 2.. only: traced 2
        # and 4 bracket untraced 3
        plain_warm = [r["wall_s"] for r in self.passes[2:] if not r["traced"]]
        out = {name: (median([r["layers"].get(name, 0.0) for r in traced_warm]), unit)
               for name, unit in PASS_METRICS}
        warm_traced = median([r["wall_s"] for r in traced_warm])
        run_level = {
            "session.first_use_s": self.passes[0]["wall_s"] - warm_traced,
            "trace.overhead_s": warm_traced - median(plain_warm),
            "trace.bindings": self.bindings,
            **{f"session.{k}": v for k, v in self.state.items()},
            "spark.jvm_peak_rss_mb": self.rss_mb,
            "gates.error_rate": len(self.failures) / max(self.attempted, 1),
            "gates.executions": self.attempted,
        }
        out.update({name: (run_level[name], unit) for name, unit in RUN_METRICS})
        return out

    def result(self) -> dict:
        metrics = self.per_layer() if self.args.trace else self.end_to_end()
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            # a metric nothing measured (every execution failed) prints null
            "metrics": {k: {"value": v if v is not None and math.isfinite(v) else None, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def report(self) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "setup_s": self.setup_s,
            "measure_s": self.measure_s, "passes": self.passes,
            "failures": self.failures, **self.result(),
        }


# Per-pass layer metrics of traced passes: (name, unit).  The run reports
# the median over traced warm passes.
PASS_METRICS = [
    ("build.s", "s"), ("build.jobs", "count"), ("plan.s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("frame.self_s", "s"),
    *[(f"{layer}.{m}", u) for layer in (
        "operators", "operators.distsort", "llm", "llm.dedup", "llm.similarity",
        "streaming", "io", "sql")
      for m, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))],
    ("cache.calls", "count"), ("cache.self_s", "s"), ("cache.release_s", "s"),
    *[(f"spark.{m}", u) for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("input_mb", "MB"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
        ("spill_mb", "MB"), ("task_skew", "ratio"))],
]

# Per-run layer metrics: (name, unit)
RUN_METRICS = [
    ("session.first_use_s", "s"), ("trace.overhead_s", "s"), ("trace.bindings", "count"),
    ("session.broadcasts_live", "count"), ("session.persisted_rdds", "count"),
    ("session.storage_mb", "MB"), ("spark.jvm_peak_rss_mb", "MB"),
    ("gates.error_rate", "ratio"), ("gates.executions", "count"),
]


class _LayerPass:
    """Accumulates one traced pass's layer numbers across its gates."""

    def __init__(self):
        self.v: dict[str, float] = {}
        self.skew = 1.0
        self.gate: dict[str, float] = {}

    def _add(self, name: str, x: float) -> None:
        self.v[name] = self.v.get(name, 0.0) + x
        self.gate[name] = self.gate.get(name, 0.0) + x

    def add_gate(self, tracer, marks: dict, job0: int) -> dict[str, float]:
        """Add one gate's numbers to the pass and return them."""
        self.gate = {}
        (t0, j0), (tb, jb), (tp, jp), (te, je) = (
            marks["start"], marks["build"], marks["plan"], marks["exec"])
        self._add("build.s", tb - t0)
        self._add("build.jobs", jb - j0)
        self._add("plan.s", tp - tb)
        self._add("exec.s", te - tp)
        self._add("exec.jobs", je - jp)
        # module layers add into their package total too (llm.dedup -> llm);
        # io, sql and cache are single-module layers
        for layer, (calls, self_s, jobs) in tracer.layer_totals().items():
            top = layer.split(".", 1)[0]
            for n in {layer, top}:
                self._add(f"{n}.calls", calls)
                self._add(f"{n}.self_s", self_s)
                self._add(f"{n}.jobs", jobs)
        # build = the spans that started in build (self times) + the rest
        module_self = sum(t[1] for t in tracer.layer_totals(until=tb).values())
        self._add("frame.self_s", (tb - t0) - module_self)
        self._add("cache.release_s", tracer.span_time("cache.release_caches"))
        job1 = tracer.next_job_id()
        stages = tracer.stage_metrics(job0, job1)
        self._add("spark.jobs", job1 - job0)
        for k, x in stages.items():
            if k == "task_skew":
                self.skew = max(self.skew, x)
                self.gate["spark.task_skew"] = x
            else:
                self._add(f"spark.{k}", x)
        return {k: round(v, 6) for k, v in self.gate.items()}

    def totals(self) -> dict[str, float]:
        return {**self.v, "spark.task_skew": self.skew}


def parse_args(argv, workloads: list[str]):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the full per-pass report (JSON) here")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    try:
        harness.check_checkout()
    except harness.CheckoutError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 2
    spec = harness.load_workloads()
    args = parse_args(argv, sorted(spec["workloads"]))
    work = harness.Workdir(f"{args.workload}-s{args.seed}")
    try:
        harness.prepare_env(work)
        gen.write(work.data, gen.DATA_SEED, spec["sf"])
        run = Run(args, spec, work)
        run.setup()
        run.measure()
        run.teardown()
    finally:
        if "pyspark" in sys.modules:
            harness.stop_jvm()
        work.close()
    if args.report:
        with open(args.report, "w") as f:
            json.dump(run.report(), f, indent=1)
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
