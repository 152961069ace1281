#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client runs a workload's keys, in
sorted order, through `SparkEntry.queries(key)(spark, dir)` into Spark's
`noop` sink on `local[<cores>]`.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run builds graft and the
harness from source with sbt and caches the classpath under the build
directory (`$CARGO_TARGET_DIR`, default `.bench_build`); later runs
rebuild only when a source file changed. Inputs are generated per
(workload, seed) from the sf0.1 test data and cached there too; their
generation is not part of any metric.

Each run sets up once (fresh session, warehouse and local dir; one
untimed pass that fingerprints every key's output and compares it with
`expected.json`, then one untimed pass into the sink), then runs whole
timed passes for `--seconds` (at least four).
`--trace 0` reports the end-to-end metrics; `--trace 1` alternates
traced and untraced passes and reports the per-layer metrics, the
tracing overhead, and writes the span tree to `<build>/traces/`.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

`--record-expected` stores the fingerprints of a clean run as the
reference for its workload (done once, at the default seed, after the
DuckDB oracle check in `oracle_check.py`).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import benchlib  # noqa: E402
import gen  # noqa: E402

ROOT = BENCH.parent
HARNESS = BENCH / "harness"
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
HEAP = "3g"
END_TO_END = ["setup_s", "pass_s", "query_p50_s", "query_p90_s", "heap_retained_mb"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d).resolve()


def require_repo():
    need = [ROOT / "build.sbt", ROOT / "TESTDATA.md",
            ROOT / "src/main/scala/graft/SparkEntry.scala"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.exists()]
    if missing:
        raise BenchError(f"not a graft checkout, missing: {', '.join(missing)}")


def source_dir():
    """The sf0.1 test data: $PERFBENCH_SF_DIR, else the sf0.1 row of the
    repository's TESTDATA.md."""
    env = os.environ.get("PERFBENCH_SF_DIR")
    if env:
        d = Path(env)
    else:
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", (ROOT / "TESTDATA.md").read_text())
        if not m:
            raise BenchError("TESTDATA.md names no sf0.1 directory")
        d = Path(m.group(1))
    if not (d / "lineitem.parquet").exists():
        raise BenchError(f"no sf0.1 test data at {d}")
    return d


def source_stamp():
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for base in (ROOT / "project", HARNESS / "project"):
        files += [p for p in base.glob("*") if p.is_file()]
    for base in (ROOT / "src/main", HARNESS / "src"):
        files += [p for p in base.rglob("*") if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built(bdir):
    """Builds graft and the harness with sbt when the sources changed;
    returns the runtime classpath."""
    cp_file, stamp_file = bdir / "classpath.txt", bdir / "classpath.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    bdir.mkdir(parents=True, exist_ok=True)
    build_log = bdir / "build.log"
    log(f"building graft and the harness (log: {build_log})")
    t0 = time.time()
    with open(build_log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                 f"-Dperfbench.cpfile={cp_file}", "writeClasspath"],
                cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not cp_file.exists():
        tail = build_log.read_text()[-3000:]
        raise BenchError(f"build failed ({rc}):\n{tail}")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def run_harness(cp, input_dir, keys, args, ncores, bdir):
    runs = bdir / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs))
    try:
        raw_path = tmp / "raw.json"
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
                "-Dspark.ui.enabled=false"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
               + ["-cp", cp, "perfbench.Harness",
                  "--input", str(input_dir), "--keys", ",".join(keys),
                  "--out", str(raw_path), "--tmp", str(tmp),
                  "--cores", str(ncores),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)])
        with open(tmp / "stderr.log", "w") as err:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=err, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                # also on SIGTERM or Ctrl-C: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not raw_path.exists():
            tail = (tmp / "stderr.log").read_text()[-3000:]
            raise BenchError(f"harness failed ({rc}):\n{tail}")
        return json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args(argv)

    require_repo()
    workloads = json.loads((BENCH / "workloads.json").read_text())
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
    spec = workloads[args.workload]
    keys = sorted(spec["keys"])
    src = source_dir()
    bdir = build_dir()
    cp = ensure_built(bdir)
    input_dir, manifest = gen.ensure(src, bdir / "inputs", args.workload,
                                     spec["replicas"], args.seed)
    ncores = cores()
    raw = run_harness(cp, input_dir, keys, args, ncores, bdir)

    expected_all = json.loads((BENCH / "expected.json").read_text())
    if args.record_expected:
        bad = [f for f in benchlib.check_outputs(raw["setup"], {}) if f["phase"] != "check"]
        bad += benchlib.timed_failures([raw["setup"]["warm"]] + raw["passes"])
        if bad:
            raise BenchError(f"not recording a failing run: {bad}")
        first = raw["setup"]["checks"]
        expected_all[args.workload] = {
            k: {"rows": c["rows"], "hash": c["hash"], "schema": c["schema"]}
            for k, c in sorted(first.items())}
        (BENCH / "expected.json").write_text(json.dumps(expected_all, indent=1, sort_keys=True) + "\n")
        log(f"recorded {len(first)} fingerprints for {args.workload}")

    expected = expected_all.get(args.workload, {})
    failures = (benchlib.check_outputs(raw["setup"], expected)
                + benchlib.timed_failures([raw["setup"]["warm"]] + raw["passes"]))
    attempted = (len(raw["setup"]["checks"]) + len(raw["setup"]["warm"]["keys"])
                 + sum(len(p["keys"]) for p in raw["passes"]))
    failed = len(failures)

    tables = manifest["tables"]
    print(f"inputs {args.workload} seed {args.seed}: " + ", ".join(
        f"{t} {v['rows']} rows {v['bytes']} B {v['files']} file" for t, v in tables.items()))
    setup = raw["setup"]
    check_s = sum(c["s"] for c in setup["checks"].values())
    print(f"cores {ncores}, heap {HEAP}, keys {len(keys)}; set-up {setup['setup_s']:.2f} s "
          f"(JVM and session {setup['session_s']:.2f} s, checked pass {check_s:.2f} s, "
          f"warm-up pass {setup['warm']['wall_s']:.2f} s; {setup['codegen_compiles']} codegen "
          f"compiles, {setup['codegen_ms']:.0f} ms); "
          "passes: " + ", ".join(
        f"{p['wall_s']:.2f}{'T' if p['traced'] else ''}" for p in raw["passes"]) + " s")
    for f in failures:
        print(f"FAILED {f['key']} phase={f['phase']}: {f['cause']}")
    verdict = "ok" if not failures else "FAILED"
    print(f"output check: {verdict} ({failed} of {attempted} executions failed)")

    if args.trace == 0:
        e2e = benchlib.end_to_end(raw)
        for name in END_TO_END:
            v, u, n = e2e[name]
            print(f"{name} = {v:.6g} {u} (n={n})")
        print(f"failed_frac = {failed / attempted:.6g} ratio (n={attempted})")
        tp = benchlib.tail_percentile(e2e["query_p90_s"][2])
        print(f"tail: p90 rests on {benchlib.samples_beyond(e2e['query_p90_s'][2], 90)} samples "
              f"beyond it; highest percentile with 10 beyond: {tp}")
        print(json.dumps({"per_query": benchlib.per_key_medians(raw)}, sort_keys=True))
        metrics = {name: {"value": e2e[name][0], "unit": e2e[name][1]} for name in END_TO_END}
    else:
        modules = benchlib.file_modules(ROOT / "src/main/scala/graft")
        rows_out = {k: c["rows"] for k, c in raw["setup"]["checks"].items() if c["ok"]}
        lay, spans = benchlib.layers(raw, modules, rows_out)
        traces = bdir / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        trace_file = traces / f"{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps({"spans": spans, "jobs": raw["jobs"]}))
        units = {name: u for name, u, _ in benchlib.LAYER_METRICS}
        for name, v in lay.items():
            print(f"{name} = {v:.6g} {units[name]}")
        gaps = benchlib.reconcile_gaps(spans, benchlib.per_key_medians(raw))
        print("reconcile, per key (build + plan + exec) - untraced latency: "
              + json.dumps({k: round(v, 4) for k, v in gaps.items()}))
        print(f"spans: {len(spans)} written to {trace_file}")
        metrics = {name: {"value": v, "unit": units[name]} for name, v in lay.items()}

    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
