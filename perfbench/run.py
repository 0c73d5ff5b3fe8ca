#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop run, one JSON line.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles graft and the harness with sbt
(offline); later runs reuse the build while the sources are unchanged.
The input tables are the seed-42 sf0.01 tables under `data/` next to
this file; they never change with `--seed`. Every path a run touches lives under
`.bench_build/` in the checkout; the run's scratch root (Spark local
dirs, state, checkpoints, warehouse, temp files) is deleted when it
ends. The last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones and writes a span file to `.bench_build/traces/`. See README.md
next to this file.
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
CHECKOUT = os.path.dirname(HERE)
OUT = os.path.join(CHECKOUT, ".bench_build")
WORKLOADS = ("etl_batch", "state_stream")
DATA = os.path.join(HERE, "data", "sf0.01")
REFS = os.path.join(HERE, "refs", "sf0.01.json")
RUN_LIMIT_S = 170     # a run must end within 180 s

END_TO_END = {"wall_s": "s", "setup_s": "s"}
PER_LAYER = {
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "driver.gap_s": "s", "aqe.stage_jobs": "count",
    "exec.busy_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
    "plan.s": "s", "plan.queries": "count",
    "scan.input_mb": "MB", "Tables.jobs": "count", "sources.write_s": "s",
    "write.output_mb": "MB",
    "op.build_s": "s", "op.action_s": "s",
    "Checkpoints.cut_jobs": "count", "Checkpoints.cut_s": "s",
    "Dedup.jobs": "count", "Dedup.s": "s",
    "state.read_s": "s", "state.publish_s": "s", "state.write_mb": "MB",
    "state.files": "count",
    "stream.batches": "count", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_s": "s", "stream.get_batch_s": "s", "stream.state_rows": "count",
    "stream.state_commit_s": "s", "stream.state_mem_mb": "MB",
    "StreamOps.jobs": "count",
    "load_s": "s", "build_s": "s", "append_s": "s", "delete_s": "s",
    "query_s": "s", "state_mb": "MB",
    "batch_p50_ms": "ms", "batch_n": "count", "ops_failed_ratio": "ratio",
    "trace.wall_s": "s", "trace.overhead_ratio": "ratio", "host.probe_s": "s",
    "host.steal_ratio": "ratio",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout."""
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    out = []
    for r in roots:
        p = os.path.join(CHECKOUT, r)
        if os.path.isfile(p):
            out.append(r)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), CHECKOUT) for f in files
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(set(out))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx4g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.insert(1, f"-Dsbt.repository.config={repos}")
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(CHECKOUT, "build.sbt"))
            and os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala", "graft"))):
        die("no graft sources next to the benchmark (build.sbt, src/main/scala/graft)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(CHECKOUT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.isfile(j) for j in cp.split(os.pathsep)):
            return cp
    os.makedirs(bdir, exist_ok=True)
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [x.strip() for x in r.stdout.splitlines() if x.strip()]
    cps = [x for x in lines if not x.startswith("[") and ".jar" in x]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:])
        die(f"build failed (sbt exit {r.returncode})")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    # flush the build's writes now, not during the first measured run
    os.sync()
    return cp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """Half the host's memory in GiB, clamped to 2..8 (the test suite's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def probe_s():
    """The repo's canonical host probe: a 20M-iteration Python loop."""
    t0 = time.time()
    s = 0
    for i in range(20_000_000):
        s += i * i
    return time.time() - t0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_harness(cp, workload, seed, seconds, trace, record):
    """Run the harness JVM in a fresh scratch root; return its RESULT or None."""
    root = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    ncpu = cpus()
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={root}/tmp",
              f"-XX:ActiveProcessorCount={ncpu}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ["-cp", cp, "graftbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", DATA, "--root", root, "--refs", REFS,
              "--cpus", str(ncpu),
              "--trace-out", os.path.join(OUT, "traces", f"{workload}-seed{seed}.json")])
    if record:
        cmd += ["--record", os.path.abspath(record)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S - 10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run exceeded its time limit", 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    res = [x[len("RESULT "):] for x in out.splitlines() if x.startswith("RESULT ")]
    return json.loads(res[-1]) if proc.returncode == 0 and res else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", metavar="FILE",
                    help="write observed fingerprints to FILE instead of checking")
    a = ap.parse_args()

    cp = build()
    probe = probe_s() if a.trace else None
    steal0, total0 = cpu_ticks()
    r = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, a.record_refs)
    steal1, total1 = cpu_ticks()
    if r is None:
        die("harness failed", 4)
    for k, v in r["failures"].items():
        log(f"failure {k}: {v}")
    m = dict(r["metrics"])
    if probe is not None:
        m["host.probe_s"] = probe
    # CPU time the hypervisor gave to other guests while the harness ran
    m["host.steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in wanted if k not in m]
    if missing:
        die(f"harness did not report {missing}", 5)
    log(f"workload={a.workload} seed={a.seed} passes={r['passes']} "
        f"ops/pass={r['ops_per_pass']} measured={r['measured_s']:.1f}s")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": m[k], "unit": u} for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
