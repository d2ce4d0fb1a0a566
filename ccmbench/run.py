#!/usr/bin/env python3
"""Run the CCM benchmark on one workload and print its result.

    python3 ccmbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 ccmbench/run.py --workload all ...     # every workload, one after another
    python3 ccmbench/run.py --self-test            # the correctness gate catches wrong answers

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (ccmbench/build.sbt) and records the JVM command line in
ccmbench/target/launch.txt; later runs start the JVM directly. The last
stdout line is the JSON result:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}.
Artifacts (result and trace JSON) go to ccmbench/target/out.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
STAMP = TARGET / "launch.sources"
OUT = TARGET / "out"
WORKLOADS = ["pair_interactive", "panel_long", "fleet_perseries"]
# a run must end within 180 s; the build gets its own, longer budget
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"ccmbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, so a changed one triggers a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s", 4)
    return p.returncode, out


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft" / "ccm").is_dir():
        fail(f"no ccmspark sources beside {BENCH.name}/; run from a full checkout", 2)
    want = digest()
    if LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launcher"],
                          BENCH, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not LAUNCH.is_file():
        fail(f"build failed (sbt exit {code})", 3)
    STAMP.write_text(want)


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def jvm(args, timeout):
    cmd = ["java", f"-Djava.io.tmpdir={OUT / 'tmp'}"] + LAUNCH.read_text().splitlines() + ["ccmbench.Main"] + args
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    return run_bounded(cmd, ROOT, timeout, subprocess.PIPE)


def run_workload(workload, a, deadline):
    code, out = jvm(["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--out", str(OUT)], max(1, int(deadline - time.monotonic())))
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"{workload}: benchmark JVM exited {code}", 5)
    result = json.loads(lines[-1])
    e2e, layer = declared()
    want = layer if a.trace else e2e
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        fail(f"{workload}: result metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}", 6)
    return result


def self_test():
    """The gate catches wrong answers, and the JVM's metric names and units
    are exactly those BENCHMARK.json declares."""
    build()
    code, out = jvm(["--self-test", "--out", str(OUT)], RUN_TIMEOUT_S)
    print(out, end="")
    ok = code == 0
    code, out = jvm(["--list-metrics"], RUN_TIMEOUT_S)
    names = json.loads(out.splitlines()[-1])
    e2e, layer = declared()
    for kind, want in (("end_to_end", e2e), ("per_layer", layer)):
        same = names[kind] == want
        ok &= same
        print(f"self-test {'ok  ' if same else 'FAIL'} {kind} metric names and units match BENCHMARK.json")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    if not a.workload:
        ap.error("--workload is required")
    build()
    if a.workload != "all":
        print(json.dumps(run_workload(a.workload, a, time.monotonic() + RUN_TIMEOUT_S)))
        return
    results = {w: run_workload(w, a, time.monotonic() + RUN_TIMEOUT_S) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
