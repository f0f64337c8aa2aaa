#!/usr/bin/env python3
"""Run one product-path benchmark workload of graft.

    python3 perfbench/run.py --workload cdc_index --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first call builds the project
and the benchmark from source with sbt (about a minute); later calls reuse
the build while the sources are unchanged. Each run starts a fresh JVM,
generates its inputs from the seed, measures for --seconds, checks the
outputs, and prints one JSON result object as the last stdout line. The
full record (input properties, digests, workload-named metrics, and with
--trace 1 every layer's figures and the tracing overhead) is written to
<build dir>/perfbench/reports/. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_index", "curate_batch")
RUN_TIMEOUT_S = 170
# Sized for a shared machine with 15 GB: the project's own 24g run-fork
# default is more than it has.
HEAP = "3g"
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (same list as the
# project's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp() -> str:
    """Digest of every input of the build."""
    h = hashlib.sha256()
    tops = [("build.sbt", False), ("project/build.properties", False),
            ("src/main", True), ("perfbench/build.sbt", False),
            ("perfbench/project/build.properties", False),
            ("perfbench/src", True)]
    for rel, tree in tops:
        p = os.path.join(ROOT, rel)
        files = []
        if tree:
            for d, _, fs in os.walk(p):
                files += [os.path.join(d, f) for f in fs]
        elif os.path.exists(p):
            files = [p]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        env.setdefault("COURSIER_MODE", "offline")
    return env


def build(out: str) -> str:
    """Compile project + benchmark if the sources changed; return the
    runtime classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    print("[perfbench] building project and benchmark with sbt",
          file=sys.stderr)
    os.makedirs(out, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        log, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("build timed out", 3)
    with open(os.path.join(out, "build.log"), "w") as f:
        f.write(log)
    lines = [l for l in log.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(log[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"not a graft checkout: {rel} is missing under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    cp = build(out)

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    report = os.path.join(out, "reports",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores),
              "--data", os.path.join(HERE, "data", "seed_corpus.tsv"),
              "--report", report])
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"run failed (exit {p.returncode})", 5)
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail("run printed no result", 5)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result", 5)
    print(f"[perfbench] {a.workload} seed {a.seed}: {time.time() - t0:.1f} s, "
          f"report {report}", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
