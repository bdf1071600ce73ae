#!/usr/bin/env python3
"""Build graft and the benchmark from source, then run one workload.

Usage (from the repository root):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources (src/main) together
with the benchmark (graftbench/src/main) through graftbench/build.sbt; later
runs reuse the build while the sources are unchanged. The benchmark JVM's
stdout passes through (its last line is the JSON result); Spark's log goes
to .bench_build/logs/. Every file a run writes stays under .bench_build/.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ("frontier_schedule", "crawl_durable")
RUN_TIMEOUT_S = 170
HEAP = "2g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(log):
    """Compile with sbt (offline) and return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "ab") as fh:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, timeout=850)
        fh.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode}); see {log}", 3)
    lines = [l for l in p.stdout.decode(errors="replace").splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}", 3)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    log = os.path.join(OUT, "logs", f"{tag}.log")
    if os.path.exists(log):
        os.remove(log)
    classpath = build(log)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_EVENTLOG")}
    with open(log, "ab") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=fh)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 4)
    sys.stdout.write(out.decode(errors="replace"))
    sys.stdout.flush()
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(work, f"{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(record):
        shutil.copy(record, os.path.join(results, f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        with open(log, "rb") as fh:
            tail = fh.read()[-3000:].decode(errors="replace")
        print(f"graftbench: run exited {p.returncode}; log tail:\n{tail}", file=sys.stderr)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
