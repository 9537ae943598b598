#!/usr/bin/env python3
"""Gateway benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dash_recent --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from the checkout's sources with sbt
(once; later runs reuse the build while the sources are unchanged), then
runs one measurement in a fresh JVM and relays its output. The last line
of standard output is the JSON result. Builds, scratch lakes and records
stay under the build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this script is told to stop. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("%s timed out after %d s" % (cmd[0], timeout))
    return proc.returncode, out


def build(build_dir):
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stderr=subprocess.STDOUT)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources next to the benchmark (expected build.sbt and src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build_dir = os.path.abspath(build_dir)
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)

    work = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    java = ["java"]
    for p in JDK_OPENS:
        java += ["--add-opens", p + "=ALL-UNNAMED"]
    java += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + work,
             "-cp", cp, "perfbench.GatewayBench",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--work", work, "--records", os.path.join(build_dir, "records")]
    log = os.path.join(work, "stderr.log")
    try:
        with open(log, "w") as err:
            code, out = run_child(java, RUN_TIMEOUT_S, cwd=ROOT, stderr=err)
        sys.stdout.write(out)
        last = out.strip().splitlines()[-1] if out.strip() else ""
        if code != 0 or not last.startswith("{"):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            die("run failed (exit %d)" % code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
