#!/usr/bin/env python3
"""graft benchmark of record: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft from the working
tree with sbt (offline) into .bench_build/lib, then the benchmark package in
perfbench/ on top of it; later runs rebuild only when a source or build file
changed, so no run ever times classes that do not match the sources. The run
itself is one benchmark JVM, whose last stdout line is the JSON result.
Inputs and Spark scratch space live under .bench_out/run-<pid>/ and go with
the run; per-run records are kept under .bench_out/records/. Exits non-zero,
without a result, if a build step fails or the JVM runs past its time limit;
exits non-zero after the result if an operation or an output check failed.
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
OUT = os.path.join(ROOT, ".bench_out")
STAMP = os.path.join(BUILD, "stamp")
LIB_CP = os.path.join(BUILD, "lib-classpath.txt")
BENCH_CP = os.path.join(BUILD, "bench-classpath.txt")
WORKLOADS = ("names_ref", "names_unique", "search_probe", "curate_corpus")
RUN_TIMEOUT_S = 170       # the benchmark JVM is stopped after this long
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild, relative to the root."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names]
    for top in ("project", "perfbench/project"):
        base = os.path.join(ROOT, top)
        if os.path.isdir(base):
            files += [os.path.join(base, n) for n in os.listdir(base)]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(cwd, *commands):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", *commands], cwd=cwd, env=env,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except FileNotFoundError:
        fail("sbt is not on the PATH")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        fail(f"sbt {' '.join(commands)} failed in {os.path.relpath(cwd, ROOT) or '.'}")
    # `export` prints the classpath as the last line starting with a path
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") or l.startswith(".")]
    return lines[-1] if lines else ""


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("graft's sources (build.sbt, src/main) are not in this checkout")
    want = fingerprint()
    if os.path.isfile(STAMP) and os.path.isfile(BENCH_CP) and open(STAMP).read() == want:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    # graft itself, by the repo's own build, into a target of the benchmark's own
    cp = sbt(ROOT, 'set target := baseDirectory.value / ".bench_build" / "lib"', "compile",
             "export Runtime / fullClasspath")
    if not cp:
        fail("could not read graft's runtime classpath from sbt")
    with open(LIB_CP, "w") as f:
        f.write(cp)
    cp = sbt(HERE, "compile", "export Runtime / fullClasspath")
    if not cp:
        fail("could not read the benchmark's runtime classpath from sbt")
    with open(BENCH_CP, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"built graft and the benchmark in {time.time() - t0:.1f} s")


def java_cmd(run_dir, *args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", open(BENCH_CP).read().strip(), "perfbench.Main", "--out", run_dir,
            "--launch-us", str(time.time_ns() // 1000), *args]


def run_jvm(cmd, timeout):
    """Runs one JVM to its end, or stops it after `timeout` seconds;
    returns (code, stdout lines)."""
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    except FileNotFoundError:
        fail("java is not on the PATH")
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out.splitlines()
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM stopped after {timeout} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        code, lines = run_jvm(java_cmd(run_dir, "--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(a.seconds), "--trace", str(a.trace)), RUN_TIMEOUT_S)
        for line in lines:
            print(line)
        sys.stdout.flush()
        if not lines or not lines[-1].startswith("{"):
            fail(f"benchmark JVM exited with code {code} and no result")
        return code
    finally:
        records = os.path.join(run_dir, "records")
        if os.path.isdir(records):
            os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
            for n in os.listdir(records):
                shutil.move(os.path.join(records, n), os.path.join(OUT, "records", n))
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
