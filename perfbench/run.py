#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout of the repository. The first run builds the
engine's sources together with the harness (an sbt build of its own, in this
directory); later runs reuse that build while the sources are unchanged.
Each run works in a fresh directory under perfbench/.work, so state that
declared keys memoize under target/ never carries over between runs.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.1")
FINGERPRINTS = os.path.join(BENCH, "fingerprints.tsv")
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("movies_etl", "curation_sf01")

# A run ends within this many seconds, build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# A fixed heap and a fixed young generation keep GC sizing decisions out of
# the timings and make the peak resident size repeatable: with G1 sizing the
# young generation itself, VmHWM varied by 25% between runs of one workload.
HEAP = "4g"
YOUNG = "1g"

# Spark 4 on JDK 17 needs these outside spark-submit; the engine's own
# build passes the same list to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, limit_s):
    """Runs `cmd`, stderr passed through; returns (exit code, stdout).
    The child's process group is stopped, and waited for, if the child
    outlives `limit_s` or this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)

    def stop():
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    # the handler only raises: the child is stopped and reaped once the
    # exception has left communicate(), which holds the wait lock
    def on_signal(signum, _):
        raise SystemExit(128 + signum)

    handlers = {s: signal.signal(s, on_signal)
                for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        stop()
        log(f"{cmd[0]} exceeded {limit_s} s and was stopped")
        return -1, ""
    except BaseException:
        stop()
        raise
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def build():
    """Compiles engine and harness with sbt; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"], BENCH, env, BUILD_LIMIT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java_cmd(cp, work, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, main, *args]


def check_tree():
    """The benchmark times the engine in this checkout; without its sources
    or the benchmark's data there is nothing to run."""
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(DATA, "lineitem.parquet"), FINGERPRINTS):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")


def keep_if_oracle_passes(candidate, verify_out, keys):
    """Replaces fingerprints.tsv with `candidate` only if the repo's DuckDB
    oracle comparison passes on the outputs the fingerprints were taken
    from; otherwise the recorded fingerprints stay as they are."""
    cmd = [sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"), DATA, verify_out, *keys]
    code, out = run_child(cmd, ROOT, dict(os.environ), 900)
    sys.stderr.write(out)
    passed = [l.split()[1] for l in out.splitlines() if l.startswith("PASS ")]
    if code != 0 or sorted(passed) != sorted(keys):
        fail("scripts/selfcheck.py did not pass on every key; fingerprints.tsv left unchanged")
    with open(candidate) as f:
        body = f.read()
    with open(FINGERPRINTS, "w") as f:
        f.write("# Written by `run.py --record` after scripts/selfcheck.py matched the\n"
                "# same outputs against the DuckDB oracle on perfbench/data/sf0.1.\n" + body)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's own tests instead of a workload")
    ap.add_argument("--record", action="store_true",
                    help="rewrite fingerprints.tsv from the current outputs, "
                         "if scripts/selfcheck.py passes on them")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("--workload is required")
    check_tree()
    t_start = time.time()
    cp = build()

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    if a.selftest:
        main_class, args = "graft.perfbench.SelfTest", ["--data", DATA]
    else:
        main_class = "graft.perfbench.Main"
        args = ["--workload", a.workload or "curation_sf01", "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", DATA, "--fingerprints", FINGERPRINTS]
        if a.trace:
            args += ["--trace-out",
                     os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")]
        if a.record:
            candidate = os.path.join(work, "fingerprints.tsv")
            args[args.index(FINGERPRINTS)] = candidate
            args.append("--record")
    try:
        limit = RUN_LIMIT_S if not (a.selftest or a.record) else 900
        code, out = run_child(java_cmd(cp, work, main_class, args), work, env, limit)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l, file=sys.stderr)
        if code != 0 or not lines:
            fail(f"{main_class} exited with {code}")
        if a.record:
            keep_if_oracle_passes(candidate, os.path.join(work, "verify_out"),
                                  json.loads(lines[-1])["recorded"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.selftest or a.record:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
