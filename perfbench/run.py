#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first call builds graft's main
sources together with the harness in perfbench/src (sbt, offline) into
.bench_build/; later calls reuse the build while the sources are unchanged.
It then runs one workload in a fresh JVM and prints the harness's result
object as the last line of stdout. Logs go to stderr. Exits non-zero, with
no result line, when the build, the run or the metric set fails.

`--record` rewrites perfbench/expected.tsv, the result fingerprints the
lakehouse workload's queries are checked against, from the current code.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars")


WORKLOADS = ["mr_jobs", "lakehouse"]
# scale of the parquet corpus the queries read (corpus.py)
CORPUS_SF = {"lakehouse": 0.02}
SETUP_REPEATS = 3
# fresh JVMs per untraced run: all but the last only set up and make their
# first runs, so first_op_s and setup_s are medians over several sessions
SESSIONS = {"mr_jobs": 3, "lakehouse": 1}
BUILD_TIMEOUT_S = 850
# every JVM of one run together, after the build
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HERE)
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interrupt and waits for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    finally:
        # pipes and stray children of a finished JVM go too
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources not found; run from a graft checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_JARS_DIR=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building graft + harness (sbt compile)")
    t0 = time.time()
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                      stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    # a SIGTERM (e.g. from a timeout) unwinds through run_group, which then
    # kills and waits for the JVM or sbt process group it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if a.workload in CORPUS_SF:
        # the corpus is part of set-up: made several times, median reported
        import corpus
        times = []
        for i in range(SETUP_REPEATS):
            d = os.path.join(work, f"corpus-{i}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            t0 = time.perf_counter()
            corpus.write(d, CORPUS_SF[a.workload])
            times.append(time.perf_counter() - t0)
            if i + 1 < SETUP_REPEATS:
                shutil.rmtree(d)
        extra = ["--corpus", d, "--pre-setup-s", repr(sorted(times)[len(times) // 2])]
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Xmn640m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--expected", os.path.join(HERE, "expected.tsv"),
        "--record", "1" if a.record else "0",
    ] + extra

    def jvm(args):
        try:
            rc, out = run_group(cmd + args, max(1.0, deadline - time.monotonic()), cwd=ROOT,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if rc != 0 or not lines:
            sys.exit(f"perfbench: {a.workload} exited {rc} without a result")
        return json.loads(lines[-1])

    # the traced run reports per-layer metrics only, so it needs one session
    cold = [jvm(["--cold-only", "1"]) for _ in range(SESSIONS[a.workload] - 1 if not a.trace else 0)]
    result = jvm([
        "--prior-setup-s", ",".join(repr(c["setup_s"]) for c in cold),
        "--prior-first-runs", ",".join(f"{k}={t!r}" for c in cold for k, t in c["first_runs"].items()),
        "--prior-attempted", str(sum(c["attempted"] for c in cold)),
        "--prior-failed", str(sum(c["failed"] for c in cold))])
    want = expected_metrics(a.trace == 1)
    if sorted(result["metrics"]) != sorted(want):
        sys.exit(f"perfbench: metric set {sorted(result['metrics'])} != BENCHMARK.json {sorted(want)}")
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
