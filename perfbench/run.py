#!/usr/bin/env python3
"""Run one perfbench workload against graft, built from this checkout.

    python3 perfbench/run.py --workload cow_trickle --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --test      # the benchmark's own tests

The first run builds graft together with the benchmark's sources with sbt,
using command-line settings only (the repository's build file is not
changed), and caches the runtime classpath under .bench_build/, keyed by a
hash of every source it compiled. Later runs start the benchmark JVM
directly on that classpath. Every stdout line of the JVM is passed on; the
last line printed is the result JSON. The JVM runs in its own process group
inside a scratch directory under .bench_build/work/, and both are removed
on every exit path.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
RESULT_PREFIX = "PERFBENCH_RESULT "

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt, after Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn128m", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"] + [
    a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the root build definition, graft's main
    sources and the benchmark's sources."""
    files = [os.path.join(ROOT, "build.sbt")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(*tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "src" / "main" / "scala"',
           'set Test / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "src" / "test" / "scala"',
           'set target := baseDirectory.value / ".bench_build" / "target"'] + list(tasks)
    return subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)


def classpath():
    cache = os.path.join(BUILD, "classpath.txt")
    st = stamp()
    if os.path.isfile(cache):
        with open(cache) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == st:
            return lines[1]
    out = sbt("export Runtime / fullClasspath")
    cps = [l for l in out.stdout.splitlines() if ".bench_build" in l and "/classes" in l
           and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(st + "\n" + cps[-1].strip() + "\n")
    # Write the build's output back to disk now, not during the timed run.
    os.sync()
    return cps[-1].strip()


def run_jvm(args, cp):
    work = os.path.join(BUILD, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--launch-ms", str(int(time.time() * 1000))]
    if args.trace:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (args.workload, args.seed))]
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def on_signal(signum, _frame):
        stop()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop()
                fail("run exceeded %d s; JVM log: %s" % (RUN_TIMEOUT_S, log_path), 1)
        lines = out.splitlines()
        results = [l[len(RESULT_PREFIX):] for l in lines if l.startswith(RESULT_PREFIX)]
        for l in lines:
            if not l.startswith(RESULT_PREFIX):
                print(l)
        if proc.returncode != 0 or not results:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail("benchmark JVM exited with code %d" % proc.returncode, 1)
        print(results[-1], flush=True)
    finally:
        stop()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not in %s" % ROOT)
    if args.test:
        out = sbt("testOnly perfbench.*")
        sys.stdout.write(out.stdout)
        sys.exit(out.returncode)
    if not args.workload:
        fail("--workload is required")
    run_jvm(args, classpath())


if __name__ == "__main__":
    main()
