#!/usr/bin/env python3
"""Pipeline-first benchmark of the Spark e-commerce pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload trickle_late --seed 1 --seconds 10 --trace 0

Workloads: trickle_late and query_mix (listed in BENCHMARK.json), and
daily_bulk (the whole generated sf0.1 order range in eight batches; over a
minute per round, so it is not in the timed set).

The first run builds the main project and the harness with sbt (offline)
and caches the classpath under the build directory ($CARGO_TARGET_DIR, or
.bench_build). Every later run starts the harness JVM directly. Inputs are
generated from the seed into the build directory and reused while their
checksum matches. The last line of standard output is the result JSON.
"""
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
JAVA_OPTS = os.path.join(HERE, "target", "runtime-javaopts.txt")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the two builds read, relative to the checkout root."""
    files = []
    for top in (ROOT, HERE):
        files.append(os.path.join(top, "build.sbt"))
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)]
        for d, _, names in os.walk(os.path.join(top, "src", "main")):
            files += [os.path.join(d, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    stamp_file = os.path.join(BUILD, "build.stamp")
    if all(os.path.exists(f) for f in (CLASSPATH, JAVA_OPTS, stamp_file)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "perfbench/writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH) \
            or not os.path.exists(JAVA_OPTS):
        fail(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def prepare():
    """Check the checkout, build if the sources changed; return the stamp."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the root of a checkout with the project's sources")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp = fingerprint()
    build(stamp)
    return stamp


def java_cmd(main_class, args):
    """The harness JVM's command line for `main_class` with `args`."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    with open(JAVA_OPTS) as fh:
        opts = fh.read().split()
    # a fixed-size heap: no heap growth, and the collections it brings,
    # that differ from run to run
    return (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}/tmp",
             f"-Dperfbench.expected={HERE}/expected"]
            + opts + ["-cp", cp, main_class] + args)


def main():
    stamp = prepare()
    cmd = java_cmd("graft.perfbench.Main", sys.argv[1:] + [
        "--work", os.path.join(BUILD, "work"), "--source", stamp[:16]])
    proc = subprocess.Popen(cmd)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
