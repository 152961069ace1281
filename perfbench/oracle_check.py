#!/usr/bin/env python3
"""Checks the benchmark's recorded fingerprints against the DuckDB oracle.

    python3 perfbench/oracle_check.py --workload interactive [--seed 0]

For the workload's inputs at the seed, it dumps every key's result with
`graft.Verify`, compares each dump with the key's DuckDB oracle SQL using
the repository's `dev/check.py`, fingerprints the dumps the same way the
benchmark does, and compares those fingerprints with `expected.json`.
A key passes when its oracle agrees (or, for a rows-only key, its dump
is not empty) and its fingerprint is the recorded one. Exits non-zero
on any failure.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import run  # noqa: E402


def java(cp, tmp, main, *args):
    cmd = (["java", f"-Xmx{run.HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.JDK_OPENS]
           + ["-cp", cp, main, *args])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cores()))
    subprocess.run(cmd, cwd=tmp, env=env, check=True, stdin=subprocess.DEVNULL)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()

    run.require_repo()
    spec = json.loads((BENCH / "workloads.json").read_text())[args.workload]
    keys = sorted(spec["keys"])
    expected = json.loads((BENCH / "expected.json").read_text()).get(args.workload, {})
    bdir = run.build_dir()
    cp = run.ensure_built(bdir)
    input_dir, _ = gen.ensure(run.source_dir(), bdir / "inputs", args.workload,
                              spec["replicas"], args.seed)
    (bdir / "runs").mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="oracle-", dir=bdir / "runs"))
    try:
        dump = tmp / "verify"
        java(cp, tmp, "graft.Verify", str(input_dir), str(dump), ",".join(keys))
        chk = subprocess.run([sys.executable, str(run.ROOT / "dev/check.py"), str(input_dir),
                              str(dump), ",".join(keys)], capture_output=True, text=True)
        oracle = {}
        for line in chk.stdout.splitlines():
            m = re.match(r"(OK|FAIL|ROWS)\s+([a-z0-9_]+)\b(.*)", line)
            if m:
                verdict = m.group(1)
                if verdict == "ROWS" and "EMPTY" in line:
                    verdict = "FAIL"
                oracle[m.group(2)] = (verdict, m.group(3).strip(" :"))
        fp_path = tmp / "fingerprints.json"
        java(cp, tmp, "perfbench.DumpFingerprints", str(dump), ",".join(keys), str(fp_path),
             str(tmp))
        fps = json.loads(fp_path.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bad = 0
    for k in keys:
        verdict, detail = oracle.get(k, ("FAIL", "no dump"))
        got, want = fps.get(k), expected.get(k)
        same = (got is not None and want is not None
                and (got["rows"], got["hash"]) == (want["rows"], want["hash"]))
        ok = verdict in ("OK", "ROWS") and same
        bad += not ok
        kind = "oracle" if verdict != "ROWS" else "rows-only"
        print(f"{'ok  ' if ok else 'FAIL'} {k}: {kind} {verdict} {detail}; "
              f"fingerprint {'matches' if same else f'{got} != recorded {want}'}")
    print(f"{len(keys) - bad} of {len(keys)} keys agree with the oracle and the recorded fingerprints")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
