"""Pure functions of the benchmark: statistics, call-site attribution,
correctness verdicts and the metrics computed from a raw run record
that `perfbench.Harness` writes."""
import re

CORES = 4

# Modules that the workloads' jobs can be attributed to, in the
# order the per-layer metrics list them; a job whose long call site
# names no graft frame belongs to the benchmark's own code (the final
# digest action, read-backs) or, failing that, to "other".
MODULES = [
    "operators.Graph", "operators.TextAnalysis", "extract.ExtractJob", "extract.PartitionPlanner",
    "extract.Sinks", "extract.Warehouse", "sources.Tables",
    "perfbench", "other",
]

# ExtractJob / graft.Main stages, by the (module, method) of the job's
# first graft frame; ExtractJob's stages are local defs of `run`.
EXTRACT_STAGES = [
    ("introspect", lambda m, f: m == "extract.Introspector" or
     (m == "extract.ExtractJob" and f.startswith("introspect"))),
    ("plan", lambda m, f: m == "extract.PartitionPlanner"),
    ("write", lambda m, f: m == "extract.Sinks"),
    ("verify", lambda m, f: m == "extract.ExtractJob" and f.startswith("load")),
    ("warehouse", lambda m, f: m == "extract.Warehouse"),
]

SOURCE_LAYERS = ["introspect", "plan", "range", "predicates", "single"]
OPERATOR_LAYERS = ["build", "plan", "exec"]


# ------------------------------------------------------------ statistics

def median(xs):
    return percentile(xs, 50)


def percentile(xs, p):
    """Linear interpolation between closest ranks (the 'inclusive'
    method of statistics.quantiles; numpy's default)."""
    if not xs:
        raise ValueError("percentile of no values")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------ call-site mapping

FRAME = re.compile(r"^\s*(?:at\s+)?((?:graft|perfbench)\.[\w.$]+)\.([\w$]+)\(")


def attribute(call_site, execution_site=""):
    """(module, method) of a job from its stage's long call site, or,
    when that names no graft or benchmark frame, from the long call
    site of the SQL execution the job belongs to.

    The module is the first `graft.` frame's class without the `graft.`
    prefix and without Scala's `$` suffixes (`extract.Sinks`), and the
    method is that frame's method with lambda wrappers removed
    (`$anonfun$run$1` -> `run`, `introspect$1` -> `introspect`). Frames
    of Spark, Scala and the JDK are skipped, so a job submitted from a
    CompletableFuture worker still lands on the graft code below it.
    A job that Spark submits from its own worker thread (a broadcast or
    an adaptive query stage) has only that thread's frames; its SQL
    execution's call site was taken on the thread that started it.
    """
    found = _first_frame(call_site)
    if found is None and execution_site:
        found = _first_frame(execution_site)
    return found or ("other", "")


def _first_frame(site):
    first_bench = None
    for line in site.splitlines():
        m = FRAME.match(line)
        if not m:
            continue
        cls, method = m.group(1), m.group(2)
        if cls.startswith("perfbench."):
            first_bench = first_bench or ("perfbench", method)
            continue
        module = cls[len("graft."):].split("$")[0]
        method = re.sub(r"^\$anonfun\$", "", method).split("$")[0] or method
        return module, method
    return first_bench


def module_key(module):
    return module if module in MODULES else "other"


# ------------------------------------------------------------ correctness

def verdicts(workload, ops, expected, mismatch_injected=False):
    """Names each failed op with its reason: a thrown error, or an
    observed output that differs from the stored expectation."""
    exp = dict(expected.get(workload, {}).get("ops", {}))
    if mismatch_injected and exp:
        first = sorted(exp)[0]
        exp[first] = dict(exp[first], rows=exp[first]["rows"] + 1)
    failures = []
    for o in ops:
        name, obs = o["name"], o.get("observed") or {}
        why = o.get("error")
        if not why:
            e = exp.get(name)
            if e is None:
                why = "no stored expectation"
            else:
                bad = [f"{k}={obs.get(k)!r} expected {v!r}" for k, v in sorted(e.items())
                       if v is not None and obs.get(k) != v]
                if "rows_loaded" in obs and obs["rows_loaded"] != obs.get("rows"):
                    bad.append(f"rows_loaded={obs['rows_loaded']} != rows={obs.get('rows')}")
                why = "; ".join(bad) or None
        if why:
            failures.append({"pass": o["pass"], "op": name, "reason": why})
    return failures


# ---------------------------------------------------------------- metrics

def op_seconds(raw):
    """Each op's latency in seconds, in run order."""
    return [(o["end"] - o["start"]) / 1e3 for o in raw["ops"]]


def end_to_end(raw):
    """Per run: set-up is the median over its repetitions of session
    start plus source boot, plus the warm pass; op percentiles are over
    this run's ops only (protocol.py also pools them over a run set)."""
    passes = [s for s in raw["spans"] if s["kind"] == "pass"]
    lat = op_seconds(raw)
    setups = [a + b for a, b in zip(raw["session_s"], raw["boot_s"])]
    return {
        "setup_s": (median(setups) + raw["warm_s"], "s"),
        "run_s": (median([(p["end"] - p["start"]) / 1e3 for p in passes]), "s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_p90_s": (percentile(lat, 90), "s"),
        "live_heap_mb": (raw["heap_mb"], "MiB"),
    }


def _ancestors(spans):
    by_id = {s["id"]: s for s in spans}

    def chain(i):
        out = []
        while i and i in by_id:
            out.append(by_id[i])
            i = by_id[i]["parent"]
        return out
    return chain


def per_layer(raw):
    spans = raw["spans"]
    chain = _ancestors(spans)
    passes = [s for s in spans if s["kind"] == "pass"]
    n = len(passes)
    wall = sum(p["end"] - p["start"] for p in passes) / 1e3
    ops = raw["ops"]
    op_time = sum(o["end"] - o["start"] for o in ops) / 1e3

    # jobs caused by a pass (warm-up and read-back checks excluded)
    jobs = []
    for j in raw["jobs"]:
        anc = chain(j["parent"])
        p = next((s for s in anc if s["kind"] == "pass"), None)
        if p is not None and j["end"] >= 0:
            layer = next((s["name"] for s in anc if s["kind"] == "layer"), None)
            jobs.append(dict(j, pass_id=p["id"], layer=layer,
                             module=attribute(j["call_site"], j["execution_site"])))
    stages = {s["id"]: s for s in raw["stages"]}
    seen, pass_stages = set(), []
    for j in jobs:
        for sid in j["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                pass_stages.append(dict(stages[sid], layer=j["layer"]))

    def tot(key):
        return sum(s[key] for s in pass_stages)

    no_job = 0.0
    for p in passes:
        iv = [(max(j["start"], p["start"]), min(j["end"], p["end"]))
              for j in jobs if j["pass_id"] == p["id"]]
        no_job += (p["end"] - p["start"]) - union_length([i for i in iv if i[1] > i[0]])
    task_run = tot("run_ms") / 1e3

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.no_job_s": (no_job / 1e3 / n, "s"),
        "spark.tasks_per_stage": (tot("tasks") / max(1, len(pass_stages)), "count"),
        "spark.util": (task_run / (wall * CORES), "ratio"),
        "spark.task_run_s": (task_run / n, "s"),
        "spark.task_cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "spark.gc_share": (ratio(tot("gc_ms") / 1e3, task_run), "ratio"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes") / n, "bytes"),
        "spark.shuffle_records": (tot("shuffle_write_records") / n, "count"),
        "spark.input_records": (tot("input_records") / n, "count"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "spark.block_bytes_peak": (raw["block_bytes_peak"], "bytes"),
    }

    in_pass = [s for s in spans if s["kind"] == "layer"
               and any(a["kind"] == "pass" for a in chain(s["parent"]))]

    def layer_time(name):
        return sum(s["end"] - s["start"] for s in in_pass if s["name"] == name) / 1e3

    for l in OPERATOR_LAYERS:
        m[f"operators.{l}_share"] = (layer_time(f"operators.{l}") / op_time, "ratio")
    m["operators.build_jobs"] = (
        sum(1 for j in jobs if j["layer"] == "operators.build") / n, "count")

    # graft.Main.run: its jobs, by the stage their call site belongs to
    elt_ops = [o for o in ops if raw["workload"] == "extract" and not o["name"].startswith("jdbc:")]
    source_rows = sum(o["observed"].get("rows", 0) for o in elt_ops)
    elt_jobs = [j for j in jobs if j["layer"] == "graft.Main.run"]
    elt_stages = [s for s in pass_stages if s["layer"] == "graft.Main.run"]
    stage_s = {}
    for j in elt_jobs:
        for stage, match in EXTRACT_STAGES:
            if match(*j["module"]):
                stage_s[stage] = stage_s.get(stage, 0.0) + (j["end"] - j["start"]) / 1e3
                break
    for stage, _ in EXTRACT_STAGES:
        m[f"extract.{stage}_share"] = (stage_s.get(stage, 0.0) / wall, "ratio")
    covered = sum(union_length([(j["start"], j["end"]) for j in elt_jobs if j["pass_id"] == p["id"]])
                  for p in passes) / 1e3
    elt_job_s = sum(j["end"] - j["start"] for j in elt_jobs) / 1e3

    m["extract.stage_overlap"] = (ratio(elt_job_s, covered), "ratio")
    m["extract.jobs_per_table"] = (ratio(len(elt_jobs), len(elt_ops)), "count")
    m["extract.read_amp"] = (ratio(sum(s["input_records"] for s in elt_stages), source_rows), "ratio")
    m["extract.write_amp"] = (ratio(sum(s["output_records"] for s in elt_stages), source_rows), "ratio")
    m["extract.partitions"] = (sum(o["observed"].get("part_files", 0) for o in elt_ops) / n, "count")
    m["extract.julienne_tables"] = (
        sum(1 for o in elt_ops if o["observed"].get("julienne")) / n, "count")

    # JDBC read path: layer time as a share of its ops' time, throughput, amplification
    jdbc_ops = [o for o in ops if o["name"].startswith("jdbc:")]
    jdbc_time = sum(o["end"] - o["start"] for o in jdbc_ops) / 1e3
    landed = sum(o["observed"].get("rows", 0) for o in jdbc_ops)
    for l in SOURCE_LAYERS:
        m[f"sources.{l}_share"] = (ratio(layer_time(f"sources.{l}"), jdbc_time), "ratio")
    read_s = sum(layer_time(f"sources.{l}") for l in ("range", "predicates", "single"))
    m["sources.rows_per_s"] = (ratio(landed, read_s), "1/s")
    jdbc_input = sum(s["input_records"] for s in pass_stages
                     if s["layer"] and s["layer"].startswith("sources."))
    m["sources.read_amp"] = (ratio(jdbc_input, landed), "ratio")
    balance = [sum(t) / len(t) / max(t) for t in
               (s["task_input_records"] for s in pass_stages
                if s["layer"] in ("sources.range", "sources.predicates"))
               if len(t) > 1 and max(t) > 0]
    m["sources.slice_balance"] = (ratio(sum(balance), len(balance)), "ratio")

    for mod in MODULES:
        mine = [j for j in jobs if module_key(j["module"][0]) == mod]
        m[f"jobs.{mod}"] = (len(mine) / n, "count")
        m[f"job_share.{mod}"] = (sum(j["end"] - j["start"] for j in mine) / 1e3 / wall, "ratio")

    m["setup.session_s"] = (median(raw["session_s"]), "s")
    m["setup.derby_load_s"] = (median(raw["boot_s"]), "s")
    m["setup.warm_s"] = (raw["warm_s"], "s")
    m["trace.run_s"] = (median([(p["end"] - p["start"]) / 1e3 for p in passes]), "s")
    return m


def self_times(raw):
    """Self time per span name within the timed passes: duration minus
    the part covered by its child spans and by the Spark jobs it caused
    directly, in seconds summed over the run."""
    chain = _ancestors(raw["spans"])
    kids = {}
    for s in raw["spans"]:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in raw.get("jobs", []):
        if j["end"] >= 0:
            kids.setdefault(j["parent"], []).append((j["start"], j["end"]))
    out = {}
    for s in raw["spans"]:
        # ELT tables run concurrently inside one graft.Main.run call, so
        # their spans overlap it and have no self time of their own
        if s["kind"] in ("setup", "run", "table") or \
                not any(a["kind"] == "pass" for a in chain(s["id"])):
            continue
        name = s["name"] if s["kind"] == "layer" else s["kind"]
        iv = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length([i for i in iv if i[1] > i[0]])
        out[name] = out.get(name, 0.0) + own / 1e3
    jobs = [j for j in raw.get("jobs", []) if j["end"] >= 0
            and any(a["kind"] == "pass" for a in chain(j["parent"]))]
    out["spark.job"] = union_length([(j["start"], j["end"]) for j in jobs]) / 1e3
    return out
