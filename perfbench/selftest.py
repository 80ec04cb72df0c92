"""Self-test of the benchmark at sf0.001 with one or two gates per workload.

For each workload it runs one untraced and one traced run in this process
and checks that
- every metric BENCHMARK.json names prints, with its unit, in the mode
  that reports it, and the untraced run never imported the tracer;
- the traced run gives q302_median_ci operators.distsort calls >= 1 and
  jobs >= 1;
- the traced and untraced runs' cold passes gave the same answers, and
  every execution of both was correct.

Usage: python3 perfbench/selftest.py   (exit code 0 when every check holds)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import gen
import harness
import run

GATES = {
    "stats": ["q302_median_ci", "q267_stream_upsert"],
    "llm": ["q51_dedup_clusters", "q161_vocab_encode"],
}
SF = 0.001


def one_run(workload: str, gates: list[str], trace: int) -> run.Run:
    args = argparse.Namespace(workload=workload, seed=11, seconds=30.0, trace=trace, report=None)
    spec = {"sf": SF, "workloads": {workload: {"gates": gates}}}
    work = harness.Workdir(f"selftest-{workload}-{trace}")
    try:
        harness.prepare_env(work)
        gen.write(work.data, gen.DATA_SEED, SF)
        r = run.Run(args, spec, work)
        r.setup()
        r.measure()
        r.teardown()
    finally:
        harness.stop_jvm()
        work.close()
    return r


def check_metrics(result: dict, declared: list[dict], problems: list[str], tag: str) -> None:
    got = result["metrics"]
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            problems.append(f"{tag}: metric {m['name']} missing")
        elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            problems.append(f"{tag}: metric {m['name']} printed as {v}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{tag}: undeclared metrics {sorted(extra)}")


def main() -> int:
    harness.check_checkout()
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems: list[str] = []
    plain = {w: one_run(w, gates, 0) for w, gates in GATES.items()}
    if "layertrace" in sys.modules:
        problems.append("an untraced run imported the tracer")
    for workload, gates in GATES.items():
        traced = one_run(workload, gates, 1)
        for tag, r, declared in ((f"{workload}/trace0", plain[workload], bench["end_to_end"]),
                                 (f"{workload}/trace1", traced, bench["per_layer"])):
            res = r.result()
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: failures {r.failures}")
            check_metrics(res, declared, problems, tag)
        for gate in gates:
            a, b = traced.answers.get(gate), plain[workload].answers.get(gate)
            if a is None or a != b:
                problems.append(f"{workload}: {gate} answers differ traced/untraced: {a} vs {b}")
        if "q302_median_ci" in gates:
            for p in traced.passes:
                g = p.get("gate_layers", {}).get("q302_median_ci")
                if g is None:
                    continue
                if g.get("operators.distsort.calls", 0) < 1 or g.get("operators.distsort.jobs", 0) < 1:
                    problems.append(f"pass {p['pass']}: q302_median_ci distsort numbers {g}")
        print(f"# selftest {workload}: done", file=sys.stderr, flush=True)
    for p in problems:
        print(f"selftest FAIL: {p}")
    print("selftest ok" if not problems else f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
