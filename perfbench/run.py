#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, one JVM.

    python3 perfbench/run.py --workload <sync|change-sync|scan> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (`perfbench/build.sbt` depends on the
engine's own build); the classpath is cached under `.bench_build/` and
reused while the sources are unchanged. The base tables are the ones in
`perfbench/data/sf0.01`, which runs only read.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The full record (metrics, per-op details, environment) is kept in
`.bench_build/perfbench/results/`, with the span file of traced runs.
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

WORKLOADS = ("sync", "change-sync", "scan")
# the base tables in perfbench/data/sf0.01, as listed in perfbench.Workload.tables
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "documents")
# build + the run itself stay within 900 s on a first run
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
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


def source_hash(root):
    """Content hash of everything the build reads."""
    h = hashlib.sha1()
    files = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        files.append(rel)
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            for n in names:
                files.append(os.path.relpath(os.path.join(d, n), root))
    for rel in sorted(files):
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def java_cmd(cp, main, *args, props=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *props]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main, *args]


def spark_env(run_dir):
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return env


def build(root, work):
    """Compile engine + harness once per source state; return the
    classpath, the source hash and the build time."""
    stamp = source_hash(root)
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp, 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out_path = os.path.join(work, "build.log")
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                       stdout=out, stderr=subprocess.STDOUT, env=env)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "classes" not in cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {rc}); log in {out_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, time.time() - t0


def data_dir(here):
    """The base tables; exits if any is missing."""
    data = os.path.join(here, "data", "sf0.01")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"perfbench: base tables missing under {data}: {', '.join(missing)}")
    return data


def commit(root, stamp):
    """The git id of a git work tree, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{stamp[:12]}"


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_busy(window_s=0.5):
    """Share of all CPUs busy (steal included) over a short window, taken
    while no benchmark JVM runs: the load other processes put on the box."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]  # total, idle + iowait
    t0, i0 = sample()
    time.sleep(window_s)
    t1, i1 = sample()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("perfbench: the engine sources (build.sbt, src/) are not here; "
                         "run from the root of a full checkout")
    data = data_dir(here)

    work = os.path.join(root, ".bench_build", "perfbench")
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    nproc = os.cpu_count() or 1
    cp, stamp, build_s = build(root, work)
    load_start, busy_start = loadavg(), cpu_busy()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(work, "runs", f"{tag}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    out_json = os.path.join(run_dir, "result.json")
    spans = os.path.join(results, f"{tag}.spans.jsonl")

    env = spark_env(run_dir)
    cmd = java_cmd(cp, "perfbench.Main",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", args.trace, "--data", data,
                   "--run-dir", run_dir, "--out", out_json, "--spans", spans,
                   props=[f"-Djava.io.tmpdir={tmp}",
                                     f"-Dperfbench.fingerprints={here}/fingerprints.json"])
    log_path = os.path.join(results, f"{tag}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as lf:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                           env=env)
        wall = time.time() - t0
        if rc != 0 or not os.path.exists(out_json):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: run failed (exit {rc}); log in {log_path}")
        with open(out_json) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    load_end, busy_end = loadavg(), cpu_busy()
    result["env"].update({
        "commit": commit(root, stamp),
        "nproc_host": nproc,
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "driver_heap": HEAP,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "cpu_busy_start": busy_start,
        "cpu_busy_end": busy_end,
        # a run that starts with over half the cores already busy is not
        # comparable with a quiet one (the load average still counts the
        # previous run, so the busy share is sampled instead)
        "contended": busy_start > 0.5,
        "build_s": build_s,
        "wall_s": wall,
    })
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    if result["details"]["errors"]:
        log("errors: " + "; ".join(result["details"]["errors"][:5]))
    summary = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
