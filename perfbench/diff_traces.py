#!/usr/bin/env python3
"""Diffs the per-layer metrics of two traced runs of one workload and
lists which counters repeat exactly and which do not, with the reason.

    python3 perfbench/diff_traces.py .bench_out/trace-elt-1.json .bench_out/trace-elt-2.json

Exact repeats are candidates for an exact-count regression gate.
"""
import json
import sys

# Why a metric is not expected to repeat exactly, by name prefix or suffix.
VARIES = [
    (("_s", "_share", "job_share.", "spark.util", "sources.rows_per_s",
      "extract.stage_overlap"),
     "measured time (wall clock or CPU), varies with the host"),
    (("spark.block_bytes_peak",),
     "peak of cached blocks depends on when the ContextCleaner drops them, i.e. on GC timing"),
    (("spark.failed_tasks",), "a task failure is an event of the run, not of the workload"),
]


def reason(name):
    for keys, why in VARIES:
        if any(name.endswith(k) or name.startswith(k) for k in keys):
            return why
    return None


def diff(a, b):
    """a, b: {metric: (value, unit)} from two traced runs."""
    exact, differs = [], []
    for name in sorted(set(a) & set(b)):
        va, vb = a[name][0], b[name][0]
        if va == vb:
            exact.append(name)
        else:
            differs.append({"metric": name, "a": va, "b": vb,
                            "reason": reason(name) or "UNEXPLAINED: a work counter moved"})
    return {"exact": exact, "differs": differs}


def main(pa, pb):
    with open(pa) as fa, open(pb) as fb:
        d = diff(json.load(fa)["metrics"], json.load(fb)["metrics"])
    print(json.dumps(d, indent=1))
    return 1 if any(x["reason"].startswith("UNEXPLAINED") for x in d["differs"]) else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
