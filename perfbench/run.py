#!/usr/bin/env python3
"""Benchmark of the dead-letter streaming topology.

Usage (from the repository root):
    python3 perfbench/run.py --workload dl-stream-steady --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark harness from source on first use (sbt,
offline; cached under perfbench/target until a source file changes), runs one
workload in a fresh JVM, checks the program's outputs, and prints one JSON
object as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. A run that cannot build, or whose checks fail,
exits non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
OPS_DATA = os.path.join(HERE, "data", "sf0.001")
CDS = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("dl-stream-steady", "dl-stream-bulk")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
HEAP = "2g"
# A pre-touched fixed heap makes peak RSS track off-heap memory (RocksDB, code
# cache, metaspace) instead of how far the heap happened to grow. A run is
# about a minute of a JVM's life, all of it JIT warm-up; compiling hot code
# after a quarter of the default invocation counts gets it to compiled code
# sooner, which narrowed the run-to-run spread of the steady latencies from
# about a fifth of the median to about a tenth.
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:CompileThresholdScaling=0.25"]

# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor gave
    to other guests, the ambient load a guest's load average cannot show."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def build(deadline):
    """Compile with sbt unless the cached build matches the sources; returns
    the runtime classpath."""
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt not found")
    # offline: dependencies resolve only from the local caches
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(WORK, 'ivy')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=spark_home())
    t = deadline - time.time()
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=max(t, 1))
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [ln for ln in res.stdout.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(TARGET, exist_ok=True)
    classpath = lines[-1]
    # A short training run records the classes every run loads into a
    # class-data sharing archive; later JVMs map them instead of loading
    # some 25k classes from jars. Without an archive runs still work.
    if os.path.exists(CDS):
        os.remove(CDS)
    train = argparse.Namespace(workload=WORKLOADS[0], seed=0, seconds=1, trace=0)
    run_jvm(classpath, [f"-XX:ArchiveClassesAtExit={CDS}"], train,
            len(os.sched_getaffinity(0)), deadline)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, True


def run_jvm(classpath, jvm_opts, a, cores, deadline):
    """One workload in a fresh JVM; returns (work dir, result file, log file,
    exit code or None on timeout)."""
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Djava.io.tmpdir={work}/tmp"] + JVM_OPTS + jvm_opts
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", work,
              "--cache", os.path.join(WORK, "cache"), "--out", out,
              "--ops-data", OPS_DATA])
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return work, out, log_path, None
    return work, out, log_path, proc.returncode


def oracle_check(work):
    """Each ops-probe result against its DuckDB oracle: row count and an
    order-independent hash over the columns sorted by name."""
    import duckdb
    ops = os.path.join(work, "ops")
    with open(os.path.join(ops, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(OPS_DATA)):
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(OPS_DATA, f)}')")
    problems = []
    for name, sql in sorted(oracles.items()):
        oracle = con.sql(sql)
        types = dict(zip(oracle.columns, oracle.types))
        cols = sorted(oracle.columns)
        con.sql(f"CREATE OR REPLACE TEMP TABLE o AS SELECT {', '.join(cols)} FROM ({sql})")
        got = os.path.join(ops, name, "*.parquet")
        spark_cols = con.sql(f"SELECT * FROM read_parquet('{got}') LIMIT 0").columns
        if sorted(spark_cols) != cols:
            problems.append(f"{name}: columns {sorted(spark_cols)} != oracle {cols}")
            continue
        cast = ", ".join(f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in cols)
        con.sql(f"CREATE OR REPLACE TEMP TABLE s AS SELECT {cast} FROM read_parquet('{got}')")
        digest = "SELECT count(*), coalesce(sum(hash({}))::VARCHAR, '0') FROM {}"
        want = con.sql(digest.format(", ".join(f'"{c}"' for c in cols), "o")).fetchone()
        have = con.sql(digest.format(", ".join(f'"{c}"' for c in cols), "s")).fetchone()
        if want != have:
            problems.append(f"{name}: spark rows/hash {have} != oracle {want}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()
    load1 = os.getloadavg()[0]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {os.path.join(ROOT, 'src')}")
    if shutil.which("java") is None:
        fail("java not found")
    classpath, built = build(started + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S - (0 if built else time.time() - started)

    cores = len(os.sched_getaffinity(0))
    jvm_opts = ["-Xshare:auto", f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    steal0, total0 = cpu_times()
    work, out, log_path, rc = run_jvm(classpath, jvm_opts, a, cores, deadline)
    steal1, total1 = cpu_times()
    print(f"perfbench: jvm exited after {time.time() - started:.1f}s", file=sys.stderr)
    if rc is None:
        fail(f"workload run timed out (log: {log_path})", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"workload run failed with code {rc} (log: {log_path})", 4)
    with open(out) as fh:
        res = json.load(fh)
    problems = list(res["problems"])
    if a.trace:
        problems += oracle_check(work)

    env = dict(res["env"], nproc=cores, loadavg_1m=load1, heap_limit=HEAP,
               cpu_steal_share=round((steal1 - steal0) / max(total1 - total0, 1), 4),
               workload=a.workload, seed=a.seed, build_s=round(time.time() - started, 1)
               if built else 0)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"env": env}))
    correct = res["correct"] and not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
