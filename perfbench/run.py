#!/usr/bin/env python3
"""Benchmark for the farm pipeline and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload farm_backlog --seed 1 --seconds 15 --trace 0

It builds the engine and the harness from source (once per checkout,
with sbt, into the build directory), sizes one JVM to the host, runs
the workload in it, checks the outputs and prints, as its last line,
one JSON object with the keys correct, attempted, failed and metrics.
See perfbench/README.md for the workloads and the metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("farm_backlog", "registry_sf0.01")
DEFAULT_SEED = 1
JVM_TIMEOUT_S = 170

# The end-to-end metrics every workload reports, in the names the
# benchmark definition uses, and where each comes from per workload.
GENERIC = {
    "farm_backlog": {
        "items_per_s": ("ingest_events_per_s", 1.0),
        "op_geomean_ms": ("etl_increment_geomean_s", 1000.0),
    },
    "registry_sf0.01": {
        "items_per_s": ("registry_queries_per_s", 1.0),
        "op_geomean_ms": ("registry_query_geomean_s", 1000.0),
    },
}
UNITS = {"items_per_s": "1/s", "op_geomean_ms": "ms", "setup_s": "s"}

# The traced run's rate and the untraced runs' rate it is set against
# as tracing overhead. A traced run makes one measured registry pass,
# so it is compared with the untraced runs' first pass.
OVERHEAD = {
    "farm_backlog": ("ingest_events_per_s", "ingest_events_per_s"),
    "registry_sf0.01": ("registry_queries_per_s", "registry_pass1_queries_per_s"),
}

# Options the engine's build file passes to its forked JVMs, which a
# SparkSession created outside spark-submit needs on JDK 17.
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


def source_files(root):
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build(root, build_dir):
    """Compiles the engine and the harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log("building the engine and the harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def host_snapshot():
    """Load average, CPU time counters and the other JVMs on the host."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        # user nice system idle iowait irq softirq steal, in clock ticks
        t = [int(x) for x in fh.readline().split()[1:9]]
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    jvms = 0
    me = os.getpid()
    for d in glob.glob("/proc/[0-9]*"):
        try:
            if int(os.path.basename(d)) == me:
                continue
            with open(os.path.join(d, "comm")) as fh:
                if fh.read().strip() == "java":
                    jvms += 1
        except (OSError, ValueError):
            pass
    return {"load_avg": load, "java_processes": jvms, "cpu_busy_ticks": sum(t) - t[3] - t[4] - t[7],
            "cpu_steal_ticks": t[7], "cpu_total_ticks": sum(t), "children_cpu_s": ru.ru_utime + ru.ru_stime}


def host_contention(start, end, wall):
    """Shares of the host's CPU capacity over the run that went to
    stolen time and to processes other than the benchmark's JVM."""
    hz = os.sysconf("SC_CLK_TCK")
    total = (end["cpu_total_ticks"] - start["cpu_total_ticks"]) or 1
    capacity_s = total / hz
    own_s = end["children_cpu_s"] - start["children_cpu_s"]
    other_s = (end["cpu_busy_ticks"] - start["cpu_busy_ticks"]) / hz - own_s
    return {"steal_pct": 100.0 * (end["cpu_steal_ticks"] - start["cpu_steal_ticks"]) / total,
            "other_cpu_pct": 100.0 * max(0.0, other_s) / capacity_s,
            "own_cpu_s": own_s, "wall_s": wall}


def sizing():
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    # A quarter of the host's memory, between 2 and 8 GiB.
    heap_mb = max(2048, min(8192, kb // 4 // 1024))
    return cores, heap_mb


def goldens_for(workload, seed):
    path = os.path.join(HERE, "goldens", f"{workload}.seed{seed}.json")
    if os.path.exists(path):
        return path
    # Registry outputs do not depend on the seed (it only orders the
    # queries), so any seed is checked against the default seed's.
    if workload.startswith("registry"):
        path = os.path.join(HERE, "goldens", f"{workload}.seed{DEFAULT_SEED}.json")
        if os.path.exists(path):
            return path
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true",
                    help="write this run's outputs and counters as the goldens for its seed")
    a = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("build.sbt", "src/main/scala", "perfbench/harness/build.sbt",
                           "perfbench/data/sf0.01")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not the root of a checkout with the engine's sources: missing {', '.join(missing)}")
        return 2

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    cores, heap_mb = sizing()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(build_dir, "runs", run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    reports = os.path.join(build_dir, "reports")
    os.makedirs(reports, exist_ok=True)
    report_path = os.path.join(reports, run_id)
    golden = goldens_for(a.workload, a.seed)

    cmd = ["java", f"-Xmx{heap_mb}m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"),
            "--data", os.path.join(root, "perfbench", "data", "sf0.01"),
            "--cores", str(cores),
            "--report", report_path]
    if golden:
        cmd += ["--goldens", golden]

    host_start = host_snapshot()
    t0 = time.time()
    stderr_path = os.path.join(run_dir, "jvm.log")
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            stdout, _ = proc.communicate()
            log(f"the run did not finish within {JVM_TIMEOUT_S} s")
    wall = time.time() - t0
    host_end = host_snapshot()
    contention = host_contention(host_start, host_end, wall)
    with open(stderr_path) as fh:
        jvm_log = fh.read()
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        sys.stderr.write(jvm_log[-6000:])
        log(f"the run failed (exit code {proc.returncode})")
        return 1
    rec = json.loads(lines[-1][len("PERFBENCH "):])

    e2e = {k: v["value"] for k, v in rec["e2e"].items()}
    generic = {"setup_s": e2e["setup_s"]}
    for name, (src, scale) in GENERIC[a.workload].items():
        generic[name] = e2e[src] * scale
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    failed_frac = failed / attempted if attempted else 1.0

    counter_diff = {}
    if golden:
        with open(golden) as fh:
            gc = json.load(fh).get("counters", {})
        for k, v in rec["counters"].items():
            if k in gc and gc[k] != v:
                counter_diff[k] = v - gc[k]

    overhead = None
    if a.trace:
        key, untraced_key = OVERHEAD[a.workload]
        base = []
        for f in glob.glob(os.path.join(reports, f"{a.workload}-seed*-trace0-*.json")):
            with open(f) as fh:
                e2e_run = json.load(fh)["e2e"]
            if untraced_key in e2e_run:
                base.append(e2e_run[untraced_key]["value"])
        traced = rec["layer"].get(f"trace.{a.workload}.{key}")
        if base and traced:
            ref = sorted(base)[len(base) // 2]
            overhead = {"metric": key, "untraced_metric": untraced_key, "untraced_median": ref, "traced": traced,
                        "untraced_runs": len(base), "slowdown_pct": 100.0 * (ref / traced - 1.0)}

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "cores": cores, "heap_mb": heap_mb, "wall_s": wall, "golden": golden and os.path.relpath(golden, root),
              "host_start": host_start, "host_end": host_end, "host_contention": contention,
              "failed_frac": failed_frac,
              "counter_diff": counter_diff, "tracing_overhead": overhead, **rec}
    with open(report_path + ".json", "w") as fh:
        json.dump(report, fh, indent=1)

    if a.write_goldens:
        os.makedirs(os.path.join(HERE, "goldens"), exist_ok=True)
        path = os.path.join(HERE, "goldens", f"{a.workload}.seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "expect": rec["observed"],
                       "counters": rec["counters"]}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        log(f"wrote {os.path.relpath(path, root)}")

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {cores} cores, "
          f"-Xmx{heap_mb}m, wall {wall:.1f} s, load {host_start['load_avg'][0]:.2f} -> "
          f"{host_end['load_avg'][0]:.2f}, other JVMs {host_start['java_processes']} -> "
          f"{host_end['java_processes']}, CPU stolen {contention['steal_pct']:.1f}%, "
          f"other processes' CPU {contention['other_cpu_pct']:.1f}%")
    for k, v in rec["e2e"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(f"  failed_frac = {failed_frac:.6g} ({failed} of {attempted} operations, "
          f"{len(rec['failed_checks'])} failed checks of {rec['checks']})")
    for c in rec["failed_checks"][:10]:
        print(f"  check failed: {c}")
    if golden:
        print(f"  counters vs {os.path.relpath(golden, root)}: "
              f"{len(counter_diff)} of {len(rec['counters'])} differ"
              + "".join(f"\n    {k} {d:+g}" for k, d in sorted(counter_diff.items())))
    for k, v in rec["notes"].items():
        print(f"  {k}: {v}")
    if overhead:
        print(f"  tracing overhead: {overhead['slowdown_pct']:+.1f}% on {overhead['metric']} "
              f"vs the median of {overhead['untraced_runs']} untraced runs")
    if a.trace:
        print(f"  spans: {os.path.relpath(report_path, root)}.trace.json")

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["layer"].items()}
    else:
        metrics = {k: {"value": generic[k], "unit": UNITS[k]} for k in UNITS}
    correct = failed == 0 and not rec["failed_checks"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
