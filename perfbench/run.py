#!/usr/bin/env python3
"""Benchmark runner for the btr engine: ingest, scan and the driver queries.

    python3 perfbench/run.py --workload ingest|scan|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine from the
checkout's sources together with the harness in perfbench/src (sbt, offline);
later runs reuse the classes while no source changed. The last line of
standard output is the result: {"correct", "attempted", "failed", "metrics"},
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Scratch data stays under perfbench/work and is removed when the
run ends; a traced run leaves its spans in perfbench/traces.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
QUERY_SF = 0.01  # the DuckDB oracle over sf0.1 alone outlasts a run
SETUP_REPS = 3
RUN_LIMIT_S = 150  # plus --seconds: the benchmark process is killed after that
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


CHILDREN = []


def kill(p):
    """Kills a child and everything it started (each child leads its own session)."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def interrupted(*_):
    for p in CHILDREN:
        kill(p)
        p.wait()
    raise SystemExit("perfbench: interrupted")


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def run_child(cmd, timeout, **kw):
    """Runs a child to completion; returns (exit code, combined output)."""
    p = spawn(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(p)
        out, _ = p.communicate()
        return -1, out
    return p.returncode, out


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def build():
    """Compiles with sbt unless the classes match the current sources."""
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log("compiling (sbt) ...")
    t0 = time.time()
    # copyResources puts the DataSourceRegister service file (the "btr" format)
    # next to the classes; compile alone does not.
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
                        840, cwd=BENCH, env=env)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.0f}s")


def gen_query_tables(seed, out):
    """Generates the query tables SETUP_REPS times; returns the median seconds."""
    sys.path.insert(0, BENCH)
    import gen_tables
    if gen_tables.checksum(gen_tables.tables(seed, QUERY_SF)) == \
            gen_tables.checksum(gen_tables.tables(seed + 1, QUERY_SF)):
        raise SystemExit("perfbench: seeds %d and %d generate the same tables" % (seed, seed + 1))
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        gen_tables.write(gen_tables.tables(seed, QUERY_SF), out)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def spark_jars():
    """The jar directory the root build compiles against (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: the root build.sbt names no unmanagedBase")
    return m.group(1)


def run_jvm(args, extra, deadline):
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false"]
           + JDK_OPENS + ["-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", WORK, "--trace-out", os.path.join(BENCH, "traces")] + extra)
    env = dict(os.environ, SPARK_GRAFT_TMPFS=os.path.join(WORK, "tmpfs"))
    p = spawn(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env, text=True)
    timer = threading.Timer(max(1.0, deadline - time.time()), kill, [p])
    timer.daemon = True
    timer.start()
    last = None
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
    finally:
        timer.cancel()
        if p.poll() is None:
            kill(p)
        p.wait()
    if p.returncode != 0 or last is None:
        raise SystemExit(f"perfbench: benchmark process failed (exit {p.returncode})")
    return json.loads(last)


def oracle(tables, dump, result, samples):
    """DuckDB check of every query result the warm-up pass dumped."""
    rc, out = run_child([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), tables, dump], 120)
    bad = sorted({m.group(1) for m in re.finditer(r"^(?:FAIL|ERROR) (\w+)", out, re.M)})
    ok = len(re.findall(r"^OK ", out, re.M))
    print(f"oracle: {ok} queries match DuckDB, {len(bad)} differ {bad}", flush=True)
    if bad or rc != 0:
        result["correct"] = False
        result["failed"] += max(1, sum(samples.get(q, 1) for q in bad))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "scan", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="",
                    help="queries workload only: comma-separated query names to run (default all)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: {need} is missing; run from the repository root")
    build()
    start = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    try:
        extra = []
        tables = os.path.join(WORK, "tables")
        dump = os.path.join(WORK, "dump")
        if args.workload == "queries" or (args.workload == "scan" and args.trace):
            extra = ["--tables", tables, "--dump", dump,
                     "--prep-s", repr(gen_query_tables(args.seed, tables)), "--only", args.queries]
        result = run_jvm(args, extra, start + RUN_LIMIT_S + args.seconds)
        if args.workload == "queries":
            samples = {}
            if os.path.exists(os.path.join(WORK, "samples.json")):
                samples = json.load(open(os.path.join(WORK, "samples.json")))
            oracle(tables, dump, result, samples)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
