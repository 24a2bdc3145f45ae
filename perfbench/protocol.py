#!/usr/bin/env python3
"""Runs the benchmark's measurement protocol and writes a baseline.

    python3 perfbench/protocol.py --out FILE

For each workload of BENCHMARK.json: two sets of ten untraced runs
(seeds 1-10 and 11-20), then two traced runs (seeds 101 and 102). The
baseline holds, per set, every run's metrics and host fingerprint and
each end-to-end metric's median and quartile spread ((q3 - q1) /
median, as statistics.quantiles gives them) against its bound, plus
the op latency percentiles pooled over the set's runs; then how far
the second set's medians moved from the first's, the traced per-layer
metrics and self times, the tracing overhead (traced run_s minus the
untraced median of the second set, which ran just before), and the
diff of the two traced runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import diff_traces  # noqa: E402
import metrics  # noqa: E402

SETS = [range(1, 11), range(11, 21)]
TRACED_SEEDS = [101, 102]


def bench(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=ROOT)
    lines = [json.loads(x) for x in p.stdout.strip().splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"perfbench: {workload} seed {seed} exited {p.returncode}")
    env = next(x["env"] for x in lines if "env" in x)
    op_s = next(x["op_s"] for x in lines if "op_s" in x)
    return dict(lines[-1], env=env, op_s=op_s, seed=seed)


def run_set(workload, seeds, seconds, bounds):
    runs = [bench(workload, s, seconds, 0) for s in seeds]
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "bound": bound, "n": len(vals)}
    pooled = [x for r in runs for x in r["op_s"]]
    return {
        "end_to_end": summary,
        "pooled_op_s": {"n": len(pooled), "p50": metrics.percentile(pooled, 50),
                        "p90": metrics.percentile(pooled, 90)},
        "runs": [{"seed": r["seed"], "env": r["env"], "attempted": r["attempted"],
                  "failed": r["failed"], "op_s": r["op_s"],
                  "metrics": {k: v["value"] for k, v in r["metrics"].items()}} for r in runs],
        "overloaded_runs": [r["seed"] for r in runs if r["env"]["overloaded"]],
    }


def traced_run(workload, seed, seconds, untraced_run_s):
    t = bench(workload, seed, seconds, 1)
    with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-{seed}.json")) as fh:
        d = json.load(fh)
    return {"seed": seed, "env": t["env"],
            "overhead_s": t["metrics"]["trace.run_s"]["value"] - untraced_run_s,
            "self_s": d["self_s"], "metrics": d["metrics"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    out = {"run_seconds": seconds, "cores": metrics.CORES, "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        sets = [run_set(w, seeds, seconds, bounds) for seeds in SETS]
        first, second = (s["end_to_end"] for s in sets)
        drift = {k: {"change": (second[k]["median"] - first[k]["median"]) / first[k]["median"],
                     "bound": bounds[k]} for k in bounds}
        traced = [traced_run(w, s, seconds, second["run_s"]["median"]) for s in TRACED_SEEDS]
        out["workloads"][w] = {
            "sets": sets,
            "second_set_median_change": drift,
            "traced": [dict(t, metrics={k: v[0] for k, v in t["metrics"].items()})
                       for t in traced],
            "traced_diff": diff_traces.diff(traced[0]["metrics"], traced[1]["metrics"]),
        }
        print(json.dumps({w: {k: [round(s["end_to_end"][k]["spread"], 4) for s in sets]
                              + [round(drift[k]["change"], 4)] for k in bounds}}), flush=True)
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
