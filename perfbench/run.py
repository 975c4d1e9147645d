#!/usr/bin/env python3
"""Station-pipeline benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json says why each exists):
  backfill      bronze lake -> silver -> gold -> the gold check suite, closed loop
  stream_fresh  open-loop file stream into the bronze sink; traced runs add a
                gold phase: silver -> gold -> JDBC upsert
  curate        Curation.curateNearDup over a seeded mutated-copy corpus

The first run in a checkout compiles the library and the benchmark
with sbt (perfbench/build.sbt) and caches the classpath under
perfbench/target; later runs reuse it while the sources are unchanged.
Progress goes to stderr; the last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, and the spans are written to perfbench/.work/traces/. The exit
code is 1 when an output was wrong (correct is false), after the
result is printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
WORK = BENCH / ".work"
TARGET = BENCH / "target"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = sorted(p for d in (LIB_SRC, BENCH / "src") for p in d.rglob("*") if p.is_file())
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp_file = TARGET / "perfbench.stamp"
    cp_file = TARGET / "perfbench.classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"])
    print("[perfbench] compiling library and benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def run_jvm(cp, args, run_dir, result):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dderby.system.home={run_dir / 'derby'}",
        f"-Dderby.stream.error.file={run_dir / 'derby' / 'derby.log'}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        str(run_dir), str(BENCH), str(result)]
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "derby").mkdir(parents=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if code != 0:
        fail(f"benchmark JVM exited with {code}")


def main():
    # a SIGTERM unwinds like ^C, so the JVM's process group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail(f"{spec_file} is missing")
    spec = json.loads(spec_file.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    if not LIB_SRC.is_dir():
        fail(f"library sources {LIB_SRC} are missing; run from a full checkout")

    cp = build()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = run_dir / "result.json"
    run_jvm(cp, args, run_dir, result)
    out = json.loads(result.read_text())

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(out["metrics"]) != set(units):
        fail(f"metrics {sorted(set(out['metrics']) ^ set(units))} differ from BENCHMARK.json")
    if args.trace:
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        spans = run_dir / "spans.jsonl"
        if spans.exists():
            dest = traces / f"{args.workload}-seed{args.seed}.jsonl"
            shutil.copyfile(spans, dest)
            print(f"[perfbench] spans written to {dest.relative_to(ROOT)}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {n: {"value": out["metrics"][n], "unit": units[n]} for n in units}
    for n, m in metrics.items():
        print(f"{n:34s} {m['value']:>16.4f} {m['unit']}")
    print(f"{'correct':34s} {out['correct']}  attempted {out['attempted']}  failed {out['failed']}")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    if not out["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
