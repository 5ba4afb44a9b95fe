#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <interactive|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the harness and
graft from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The last line of standard output is the result
as one JSON object; the lines before it print every metric by name with
its unit. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.1"
BUILD = BENCH / "target"
REPLICAS = BUILD / "replicas"
WORKLOADS = ("interactive", "catalog")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

JAVA_OPTS = [
    *[a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action",
                  "java.base/sun.util.calendar")
      for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Xmx4g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.is_file()]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness, and write the catalog's SNB replica
    from the fixtures with graft's own replica code; return the runtime
    classpath. The replica is benchmark input, made once per build like
    the classes, so a run's set-up does not include writing it."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft's sources are not in {ROOT}; run from the root of a checkout")
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not cp_file.is_file():
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = cp_file.read_text().strip()
    t1 = time.time()
    work = BUILD / "prepare"
    shutil.rmtree(REPLICAS, ignore_errors=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        harness(cp, ["--workload", "catalog", "--data", str(DATA), "--work", str(work),
                     "--prepare", str(REPLICAS)], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {t1 - t0:.1f} s, replica written in {time.time() - t1:.1f} s",
          file=sys.stderr)
    return cp


def check_fixtures():
    sums = (DATA / "SHA256SUMS").read_text().split("\n")
    for line in filter(None, sums):
        want, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != want:
            fail(f"fixture {name} does not match its recorded sha256")


def harness(cp, harness_args, work):
    """Run the JVM harness in its own process group; kill the group on
    timeout so no Spark thread outlives the run."""
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "graftbench.Main", *harness_args]
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True,
                            stdout=sys.stderr, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness exceeded {RUN_LIMIT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"harness exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    check_fixtures()
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    spans = ROOT / ".bench_work" / "trace" / f"{args.workload}-seed{args.seed}.jsonl"
    try:
        harness(cp, ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", str(DATA), "--replicas", str(REPLICAS), "--work", str(work),
                     "--refs", str(BENCH / "ref"), "--out", str(out), "--spans", str(spans)],
                work)
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = result.pop("report")
    for name, m in report["end_to_end"].items():
        print(f"{name} = {m['value']:.4f} {m['unit']}")
    for note in report["notes"]:
        print(note)
    for f in report["failures"]:
        print(f"FAILED {f}")
    if args.trace:
        for name, m in result["metrics"].items():
            print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
