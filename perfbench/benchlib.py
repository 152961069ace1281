"""The benchmark's own logic, kept free of I/O so it can be unit-tested:
percentiles, output checks, call-site attribution and the reduction of
a run's raw figures to end-to-end and per-layer metrics."""
import math
import re
import statistics
from pathlib import Path

MB = 1024.0 * 1024.0

# (name, unit, better) of every per-layer metric a traced run reports
LAYER_METRICS = [
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("sources.schema_jobs", "count", "lower"),
    ("sources.schema_s", "s", "lower"),
    ("sources.read_call_s", "s", "lower"),
    ("sources.rows_read", "count", "lower"),
    ("sources.rows_read_per_row_out", "ratio", "lower"),
    ("sources.write_mb", "MB", "lower"),
    ("sources.write_amp", "ratio", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("operators.eager_s", "s", "lower"),
    ("operators.persisted_left", "count", "lower"),
    ("plans.analysis_ms", "ms", "lower"),
    ("plans.optimization_ms", "ms", "lower"),
    ("plans.planning_ms", "ms", "lower"),
    ("plans.graft_rule_ms", "ms", "lower"),
    ("plans.graft_rule_hit_ratio", "ratio", "higher"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("functions.agg_build_ms", "ms", "lower"),
    ("functions.sort_fallback_tasks", "count", "lower"),
    ("driver.gc_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.reconcile_gap_s", "s", "lower"),
    ("trace.reconciles", "count", "higher"),
    ("self.pass_s", "s", "lower"),
    ("self.key_s", "s", "lower"),
    ("self.build_s", "s", "lower"),
    ("self.plan_s", "s", "lower"),
    ("self.exec_s", "s", "lower"),
    ("self.job_s", "s", "lower"),
]


# ---------------------------------------------------------------- percentiles

def percentile(xs, p):
    """The p-th percentile, interpolated linearly between the two
    nearest samples (numpy's default), so that it does not jump from one
    key's latency to another's when a single sample moves."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, p):
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest percentile that still has `beyond` samples above it,
    or None when even the median has fewer. A tail quantile resting on
    fewer samples moves with every outlier."""
    for p in sorted(candidates, reverse=True):
        if samples_beyond(n, p) >= beyond:
            return p
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- call sites

_SITE = re.compile(r"\bat (\w+)\.(?:scala|java):\d+")

# modules whose build-time jobs count as eager operator work
_EAGER_FILES = {"ChDdl": "operators"}


def file_modules(src_root):
    """Maps each Scala file name under graft's source tree to its module:
    the first directory below `graft/` ("" for top-level files)."""
    root = Path(src_root)
    out = {}
    for f in root.rglob("*.scala"):
        rel = f.relative_to(root).parts
        out[f.stem] = rel[0] if len(rel) > 1 else ""
    return out


def module_of(call_site, modules):
    """The module a Spark call site ("count at Curate.scala:91") belongs
    to. `functions/ChDdl` stages mutations eagerly and counts as
    operators; files outside graft (Spark, the harness) give "other"."""
    m = _SITE.search(call_site or "")
    if not m:
        return "other"
    stem = m.group(1)
    if stem in _EAGER_FILES and modules.get(stem) == "functions":
        return _EAGER_FILES[stem]
    mod = modules.get(stem)
    return "other" if mod is None else (mod or "graft")


# ---------------------------------------------------------------- output check

def check_outputs(setup, expected):
    """Compares the set-up's fingerprints with the recorded ones. Returns
    the failures, each naming key, phase and cause. A key whose output
    is not deterministic shows up here by name, as a mismatch at some
    seed or run."""
    failures = []
    for key, c in setup["checks"].items():
        if not c["ok"]:
            failures.append({"key": key, "phase": c["phase"], "cause": c["cause"]})
            continue
        want = expected.get(key)
        got = {"rows": c["rows"], "hash": c["hash"], "schema": c["schema"]}
        if want is None:
            failures.append({"key": key, "phase": "check", "cause": "no recorded fingerprint"})
        elif got != want:
            failures.append({"key": key, "phase": "check",
                             "cause": f"fingerprint {got} != recorded {want}"})
    return failures


def timed_failures(passes):
    return [{"key": k["key"], "pass": p["pass"], "phase": k["phase"], "cause": k["cause"]}
            for p in passes for k in p["keys"] if not k["ok"]]


# ---------------------------------------------------------------- end to end

def end_to_end(raw):
    """Metrics a user sees, from a run's untraced passes."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    lats = [k["lat_s"] for p in passes for k in p["keys"] if k["ok"]]
    n = len(lats)
    return {
        "setup_s": (raw["setup"]["setup_s"], "s", 1),
        "pass_s": (median([p["wall_s"] for p in passes]), "s", len(passes)),
        "query_p50_s": (percentile(lats, 50) if lats else 0.0, "s", n),
        "query_p90_s": (percentile(lats, 90) if lats else 0.0, "s", n),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB", 1),
    }


def per_key_latencies(raw, traced=False):
    by_key = {}
    for p in raw["passes"]:
        if p["traced"] != traced:
            continue
        for k in p["keys"]:
            if k["ok"]:
                by_key.setdefault(k["key"], []).append(k["lat_s"])
    return dict(sorted(by_key.items()))


def per_key_medians(raw, traced=False):
    return {k: median(v) for k, v in per_key_latencies(raw, traced).items()}


# ---------------------------------------------------------------- layers

def _union_s(intervals):
    """Total length of a set of [start, end] ms intervals, in seconds."""
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
    return total / 1e3


def job_spans(raw):
    """Job spans under their key's build or exec span, from the job
    group each job carried."""
    spans = list(raw["spans"])
    by_id = {s["id"]: s for s in spans}
    next_id = max(by_id, default=-1) + 1
    parent = {}
    for s in spans:
        if s["name"] in ("build", "exec"):
            pass_span = by_id[by_id[s["parent"]]["parent"]]
            parent[(pass_span["pass"], s["key"], s["name"])] = s["id"]
    out = []
    for j in raw["jobs"]:
        key, _, phase = j["group"].rpartition("/")
        pid = parent.get((j["pass"], key, "exec" if phase == "run" else phase))
        if pid is None or j["end_ms"] < 0:
            continue
        out.append({"id": next_id, "parent": pid, "name": "job", "start_ms": j["start_ms"],
                    "end_ms": j["end_ms"], "key": key, "call_site": j["call_site"]})
        next_id += 1
    return spans + out


def self_times(spans):
    """Per span name, the time spent in spans of that name outside any of
    their children, summed per pass."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def pass_of(s):
        while s["name"] != "pass":
            if s["parent"] not in by_id:
                return None
            s = by_id[s["parent"]]
        return s["pass"]

    out = {}
    for s in spans:
        p = pass_of(s)
        if p is None:
            continue
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        own = max(0.0, (s["end_ms"] - s["start_ms"]) / 1e3 - _union_s(kids))
        out.setdefault(s["name"], {}).setdefault(p, 0.0)
        out[s["name"]][p] += own
    return {name: median(list(v.values())) for name, v in out.items()}


def reconcile_gaps(spans, untraced_lat):
    """Per key: the median over traced passes of its build + plan + exec
    spans, minus its median untraced latency."""
    by_id = {s["id"]: s for s in spans}
    parts = {}
    for s in spans:
        if s["name"] in ("build", "plan", "exec"):
            pass_no = by_id[by_id[s["parent"]]["parent"]]["pass"]
            k = (s["key"], pass_no)
            parts[k] = parts.get(k, 0.0) + (s["end_ms"] - s["start_ms"]) / 1e3
    traced = {}
    for (key, _), v in parts.items():
        traced.setdefault(key, []).append(v)
    return {k: median(v) - untraced_lat[k] for k, v in sorted(traced.items())
            if k in untraced_lat}


def reconciles(gaps, overhead, ranges):
    """True when every key's gap lies within the tracing overhead plus
    the key's own untraced noise: `ranges` holds max - min of each key's
    untraced latencies. Gaps are taken one key at a
    time, so a key over and a key under cannot cancel."""
    return bool(gaps) and all(abs(g) <= abs(overhead) + ranges.get(k, 0.0)
                              for k, g in gaps.items())


def layers(raw, modules, rows_out):
    """Per-layer metrics from a traced run: each figure is summed over
    the keys of one traced pass, then the median over traced passes is
    taken. `rows_out` maps each key to its result rows."""
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    jobs_by_pass = {}
    for j in raw["jobs"]:
        jobs_by_pass.setdefault(j["pass"], []).append(j)

    def job_s(j):
        return max(0, j["end_ms"] - j["start_ms"]) / 1e3

    per_pass = []
    for p in traced:
        keys = [k for k in p["keys"] if k["ok"]]
        jobs = jobs_by_pass.get(p["pass"], [])
        build = [j for j in jobs if j["group"].endswith("/build")]
        run = [j for j in jobs if j["group"].endswith("/run")]
        mods = [module_of(j["call_site"], modules) for j in build]
        schema = [j for j, m in zip(build, mods) if m == "sources"]
        eager = [j for j, m in zip(build, mods) if m == "operators"]
        in_rec = sum(j["in_records"] for j in build + run)
        in_bytes = sum(j["in_bytes"] for j in build + run)
        out_bytes = sum(j["out_bytes"] for j in build + run)
        exec_s = sum(k.get("save_s", 0.0) for k in keys)
        cpu_s = sum(j["cpu_ns"] for j in run) / 1e9
        calls = sum(k.get("graft_rule_calls", 0) for k in keys)
        rows = sum(rows_out.get(k["key"], 0) for k in keys)
        per_pass.append({
            "queries.build_s": sum(k.get("build_s", 0.0) for k in keys),
            "queries.build_jobs": len(build),
            "sources.schema_jobs": len(schema),
            "sources.schema_s": sum(job_s(j) for j in schema),
            "sources.read_call_s": p["read_call_s"],
            "sources.rows_read": in_rec,
            "sources.rows_read_per_row_out": in_rec / max(rows, 1),
            "sources.write_mb": out_bytes / MB,
            "sources.write_amp": out_bytes / max(in_bytes, 1),
            "operators.eager_jobs": len(eager),
            "operators.eager_s": sum(job_s(j) for j in eager),
            "operators.persisted_left": sum(k.get("persisted_left", 0) for k in p["keys"]),
            "plans.analysis_ms": sum(k.get("analysis_ms", 0.0) for k in keys),
            "plans.optimization_ms": sum(k.get("optimization_ms", 0.0) for k in keys),
            "plans.planning_ms": sum(k.get("planning_ms", 0.0) for k in keys),
            "plans.graft_rule_ms": sum(k.get("graft_rule_ns", 0) for k in keys) / 1e6,
            "plans.graft_rule_hit_ratio":
                sum(k.get("graft_rule_hits", 0) for k in keys) / calls if calls else 0.0,
            "codegen.compiles": p["codegen_compiles"],
            "codegen.compile_ms": p["codegen_ms"],
            "exec.s": exec_s,
            "exec.jobs": len(run),
            "exec.stages": sum(j["stages"] for j in run),
            "exec.tasks": sum(j["tasks"] for j in run),
            "exec.task_cpu_s": cpu_s,
            "exec.task_run_s": sum(j["run_ms"] for j in run) / 1e3,
            "exec.cpu_util": cpu_s / (cores * exec_s) if exec_s else 0.0,
            "exec.shuffle_write_mb": sum(j["shuffle_write"] for j in run) / MB,
            "exec.shuffle_read_mb": sum(j["shuffle_read"] for j in run) / MB,
            "exec.spill_mb": sum(j["spill"] for j in run) / MB,
            "exec.gc_s": sum(j["gc_ms"] for j in run) / 1e3,
            "functions.agg_build_ms": sum(k.get("agg_build_ms", 0) for k in keys),
            "functions.sort_fallback_tasks": sum(k.get("sort_fallback_tasks", 0) for k in keys),
            "driver.gc_s": p["gc_s"],
        })
    out = {name: median([pp[name] for pp in per_pass]) for name in (per_pass[0] if per_pass else {})}

    traced_pass = median([p["wall_s"] for p in traced])
    untraced_pass = median([p["wall_s"] for p in untraced])
    overhead = traced_pass - untraced_pass
    out["trace.pass_s"] = traced_pass
    out["trace.untraced_pass_s"] = untraced_pass
    out["trace.overhead_s"] = overhead

    spans = job_spans(raw)
    gaps = reconcile_gaps(spans, per_key_medians(raw))
    ranges = {k: max(v) - min(v) for k, v in per_key_latencies(raw).items()}
    out["trace.reconcile_gap_s"] = max(gaps.values(), key=abs, default=0.0)
    out["trace.reconciles"] = 1 if reconciles(gaps, overhead, ranges) else 0
    selfs = self_times(spans)
    for name in ("pass", "key", "build", "plan", "exec", "job"):
        out[f"self.{name}_s"] = selfs.get(name, 0.0)
    return {name: out.get(name, 0.0) for name, _, _ in LAYER_METRICS}, spans
