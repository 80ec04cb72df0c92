"""Traced one-pass census of the suite's gates on generated data: per gate,
its latency, build/plan/exec split, jobs, the layers it calls into, the
broadcasts it leaves live, and whether its answer matches the oracle.  The
workload gate lists in ``workloads.json`` are derived from this census by
the rules written there.

Usage: python3 perfbench/census.py OUT.json [--seed N] [--sf 0.01] [gate ...]
"""

from __future__ import annotations

import argparse
import json
import sys

import gen
import harness


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=gen.DATA_SEED)
    ap.add_argument("--sf", type=float, default=harness.load_workloads()["sf"])
    ap.add_argument("gates", nargs="*")
    a = ap.parse_intermixed_args()
    harness.check_checkout()
    work = harness.Workdir("census")
    try:
        harness.prepare_env(work)
        gen.write(work.data, a.seed, a.sf)
        import __spark_entry__ as entry
        import polars_net_spark as pkg
        import layertrace

        spark = harness.start_session(harness.session_conf(work, layertrace.STATUS_CONF))
        oracle = harness.Oracle(work.data, entry.oracle_sql())
        tracer = layertrace.Tracer(spark)
        tracer.count_broadcasts()
        n_bind = tracer.install()
        print(f"# census: {n_bind} bindings patched", file=sys.stderr)
        qs = entry.queries()
        names = a.gates or list(qs)
        out = {}
        for name in names:
            job0 = tracer.begin_gate()
            b0 = tracer.broadcasts_created - tracer.broadcasts_destroyed
            lat, df, err, mk = harness.run_gate(spark, qs[name], work.data,
                                                pkg.release_caches, tracer)
            job1 = tracer.next_job_id()
            rec = {"latency_s": round(lat, 4), "error": err,
                   "jobs": job1 - job0,
                   "broadcasts_left": tracer.broadcasts_created - tracer.broadcasts_destroyed - b0}
            if err is None:
                for a_, b_ in (("start", "build"), ("build", "plan"), ("plan", "exec")):
                    rec[f"{b_}_s"] = round(mk[b_][0] - mk[a_][0], 4)
                    rec[f"{b_}_jobs"] = mk[b_][1] - mk[a_][1]
                layers = tracer.layer_totals()
                rec["layers"] = {k: {"calls": v[0], "self_s": round(v[1], 4), "jobs": v[2]}
                                 for k, v in sorted(layers.items())}
                rec["spark"] = {k: round(v, 3) for k, v in tracer.stage_metrics(job0, job1).items()}
                if name in oracle.sql:
                    rec["mismatch"] = harness.verify(oracle, name, df)[0]
                else:
                    rec["mismatch"] = "no oracle"
            print(f"# {name} {lat:.2f}s err={err} mismatch={rec.get('mismatch')} "
                  f"layers={sorted(rec.get('layers', {}))}", file=sys.stderr, flush=True)
            out[name] = rec
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
        tracer.close()
        oracle.close()
    finally:
        harness.stop_jvm()
        work.close()


if __name__ == "__main__":
    main()
