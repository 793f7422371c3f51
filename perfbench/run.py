#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and writes the JVM
launch line to .bench_build/launch.txt; later runs start the JVM directly
unless a source file changed. The JVM runs one workload for --seconds in
whole rounds of fixed, seeded work, checks every output, and prints one
JSON result line, which this script checks against BENCHMARK.json and
prints as the last line of its own output.

--trace 1 runs the same workload with spans recorded on alternate rounds
and prints the per-layer metrics instead; the spans are written to
.bench_build/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Fixed heap per workload: each holds one stream of at most 10k messages;
# a traced ops-loop run also holds a local[2] Spark session.
HEAP = {
    "catchup-backlog": "1g",
    "ops-loop": "1g",
}
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-Xss4m"]


def fail(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the launch line matches the sources."""
    launch, stamp_file = BUILD / "launch.txt", BUILD / "stamp"
    stamp = source_stamp()
    if launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"  # the offline resolver list, when present
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if repos.is_file() else ""))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not launch.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(3, f"build failed (exit {rc}); full log in {log}")
    stamp_file.write_text(stamp)


def declared(traced):
    """Metric name -> unit that BENCHMARK.json promises for this run."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(HEAP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(2, f"no program sources under {ROOT}: run from the root of a checkout")
    build()

    lines = (BUILD / "launch.txt").read_text().split("\n")
    classpath, module_opts = lines[0], [l for l in lines[1:] if l]
    tmp = BUILD / "tmp"
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    work.mkdir(parents=True, exist_ok=True)
    heap = HEAP[args.workload]
    cmd = ["java", *module_opts, f"-Xms{heap}", f"-Xmx{heap}", *JVM_FLAGS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", str(work)]
    if args.trace:
        cmd += ["--spans", str(BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(4, f"{args.workload} did not finish in time")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(5, f"{args.workload} exited with {proc.returncode}")
    result_lines = [l for l in out.splitlines() if l.startswith("{")]
    if not result_lines:
        fail(5, "no result line from the JVM")
    result = json.loads(result_lines[-1])

    promised = declared(args.trace == 1)
    got = result["metrics"]
    missing = sorted(set(promised) - set(got))
    if missing and not args.trace:
        fail(6, f"end-to-end metrics missing: {missing}")
    for name in missing:  # a layer this workload does not exercise
        got[name] = {"value": 0, "unit": promised[name]}
    wrong = [n for n in promised if got[n]["unit"] != promised[n]]
    if wrong:
        fail(6, f"units differ from BENCHMARK.json for {wrong}")
    result["metrics"] = {n: got[n] for n in promised}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
