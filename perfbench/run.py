#!/usr/bin/env python3
"""Benchmark of graft's ELT path and analytics operators.

    python3 perfbench/run.py --workload <extract|iterative>
        --seed <n> --seconds <s> --trace <0|1> [--inject throw|mismatch]

Builds graft and the harness if the sources changed, runs one workload
in one JVM (local[4], 4 shuffle partitions) as a closed loop with one
client for --seconds, checks every op's output against expected.json,
and prints one JSON object as the last line of stdout: end-to-end
metrics with --trace 0, per-layer metrics from the traced run with
--trace 1. Failed ops are named on stdout before that line, counted in
"failed", and make the exit code nonzero. A traced run also writes its
spans, jobs and self times to .bench_out/.

    python3 perfbench/run.py --record    # rewrite expected.json
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["extract", "iterative"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classpath, args, work, timeout):
    """Runs the harness; its own output goes to a log file in `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={work}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Harness", *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness exited with {code}")


def run_once(workload, seed, seconds, trace, inject=None, started=None):
    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "raw.json")
        budget = JVM_TIMEOUT_S - (time.time() - (started or time.time()))
        data = os.path.join(HERE, "data")
        fixtures = os.path.join(ROOT, ".bench_build", "fixtures")
        jvm(classpath, [workload, str(seed), str(seconds), str(trace), data, work, fixtures, out]
            + (["throw"] if inject == "throw" else []), work, max(30, budget))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None
    where there is no such file."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["throw", "mismatch"])
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.record:
        import record
        return record.main(run_once)
    if not a.workload:
        ap.error("--workload is required")
    started = time.time()
    expected = load_expected()
    ticks0 = cpu_ticks()
    raw = run_once(a.workload, a.seed, a.seconds, a.trace, a.inject, started)
    ticks1 = cpu_ticks()
    failures = metrics.verdicts(a.workload, raw["ops"], expected, a.inject == "mismatch")
    env = {"nproc": raw["env_before"]["nproc"], "loadavg_before": raw["env_before"]["loadavg"],
           "loadavg_after": raw["env_after"]["loadavg"],
           "spin_250ms": raw["env_before"]["spin_250ms"]}
    env["overloaded"] = max(env["loadavg_before"], env["loadavg_after"]) > env["nproc"]
    # share of CPU time a hypervisor gave to other guests while the JVM ran
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        env["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    if a.trace:
        values = metrics.per_layer(raw)
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({"env": env, "failures": failures, "metrics": values,
                       "self_s": metrics.self_times(raw), "raw": raw}, fh)
    else:
        values = metrics.end_to_end(raw)
    print(json.dumps({"env": env}))
    print(json.dumps({"op_s": metrics.op_seconds(raw)}))
    for f in failures:
        print(json.dumps({"failed_op": f}))
        print(f"perfbench: FAILED pass {f['pass']} op {f['op']}: {f['reason']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(raw["ops"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
