#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, then run one
benchmark workload and print its result as the last line of stdout.

Run from the root of a checkout:

    python3 perfbench/run.py --workload warm_routing --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --workload catalog_mini --record   # re-record answers

Build outputs, generated data and traces go to .bench_build/ in the
checkout. The build is reused while the sources it was made from are
unchanged.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".bench_build"
WORKLOADS = ["warm_routing", "catalog_mini"]
JVM_SECONDS = 170
BUILD_SECONDS = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the checkout root."""
    picked = []
    for top in ["src/main", os.path.join(BENCH_DIR, "src")]:
        for d, _, files in os.walk(top):
            picked += [os.path.join(d, f) for f in files]
    for f in ["build.sbt", "project/build.properties", os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project/build.properties")]:
        if os.path.isfile(f):
            picked.append(f)
    picked += [os.path.join("project", f) for f in os.listdir("project")
               if f.endswith((".sbt", ".scala"))] if os.path.isdir("project") else []
    return sorted(picked)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt; return the runtime classpath."""
    cp_file = os.path.join(WORK_DIR, "classpath.txt")
    fp = fingerprint(sources())
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved_fp, cp = fh.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g " +
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.abspath(tmp_dir())}"))
    out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                     "export perfbench/Runtime/fullClasspath"],
                    cwd=BENCH_DIR, env=env, timeout=BUILD_SECONDS, capture=True)
    if out is None or out[0] != 0:
        log("sbt build failed")
        sys.exit(3)
    lines = [l for l in out[1].splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        log("sbt printed no classpath")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    return cp


def run_group(cmd, cwd=None, env=None, timeout=None, capture=False):
    """Run `cmd` in its own process group, stderr passed through; kill the
    whole group if it outlives `timeout`. Returns (code, stdout) or None."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if capture else None,
                         text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {timeout} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def tmp_dir():
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def java(cp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # Soft references are cleared at every collection, so heap readings
    # after a full GC do not depend on when the last one ran.
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}"] + opens +
           ["-cp", cp, main] + args)
    return run_group(cmd, timeout=JVM_SECONDS, capture=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="run the default seed's inputs and rewrite expected/<workload>.tsv")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (a.self_test or a.workload):
        ap.error("--workload or --self-test is required")
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        log("run from the root of a checkout that holds the engine's sources "
            "(build.sbt, src/main/scala/graft)")
        sys.exit(2)
    os.makedirs(WORK_DIR, exist_ok=True)
    cp = build()
    if a.self_test:
        res = java(cp, "perfbench.SelfTest", ["--bench-dir", BENCH_DIR])
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed if not a.record else 1),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work-dir", WORK_DIR, "--bench-dir", BENCH_DIR]
        if a.record:
            args += ["--record", "1"]
        res = java(cp, "perfbench.Main", args)
    if res is None:
        sys.exit(4)
    code, out = res
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0:
        log(f"benchmark JVM exited with {code}")
        sys.exit(code)
    if lines:
        print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
