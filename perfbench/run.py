#!/usr/bin/env python3
"""graft-perfbench: seeded end-to-end and per-layer benchmark of the graft engine.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload tile_headline --seed 1 --seconds 10 --trace 0

--workload is one of tile_headline, shuffle_skew, tilerun_checkpoint, or `all`
(the default). Untraced tile_headline runs also run a one-core JVM for
scale_eff_1_4 unless --scale 0 is given. --trace 0 prints the end-to-end metrics; --trace 1 runs the
traced variant, writes span JSON under perfbench/.work/traces/ and prints the
per-layer metrics. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. The exit code is 0 only if
every output matched its reference.

The first run builds the engine from src/main/scala together with the
benchmark (sbt, offline), and later runs reuse the build until a source file
changes. Every input and output lives in a scratch directory under
perfbench/.work/ that is removed when the run ends.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")

WORKLOADS = ("tile_headline", "shuffle_skew", "tilerun_checkpoint")
# Parallelism levels per workload, one JVM each. The first level's JVM gives
# every metric; untraced tile_headline runs also run on one core, for
# scale_eff_1_4, reading the input the first JVM generated.
LEVELS = {"tile_headline": (4, 1), "shuffle_skew": (4,), "tilerun_checkpoint": (4,)}
# Share of --seconds each level measures for when a run has two levels.
SHARE = {4: 0.6, 1: 0.4}
SETUP_REPS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Every metric the benchmark prints, with its unit. BENCHMARK.json names the
# subset every workload reports; the rest are workload-specific and printed
# only where they apply.
UNITS = {
    "setup_s": "s", "cold_s": "s", "rows_per_s": "rows/s", "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB", "fail_ratio": "ratio", "scale_eff_1_4": "ratio", "resume_s": "s",
    "tables.gen_s": "s", "tables.cache_fill_s": "s",
    "index.build_s": "s", "index.bcast_s": "s", "index.first_key_mps": "Mprobe/s",
    "index.all_keys_mps": "Mprobe/s", "index.keys_per_probe": "keys/probe",
    "cell.encode_mps": "Mcell/s", "cell.disk_mps": "Mdisk/s",
    "operators.pip_join_s": "s", "operators.tile_assign_s": "s",
    "operators.cell_join_s": "s", "operators.knn_s": "s", "operators.radius_s": "s",
    "operators.knn_jobs": "count", "operators.cell_join_candidates": "rows",
    "operators.cell_join_match_ratio": "ratio",
    "streaming.run_s": "s", "streaming.resume_s": "s",
    "streaming.bytes_written_per_row": "B/row", "streaming.input_scans": "ratio",
    "driver.analysis_ms": "ms", "driver.optimization_ms": "ms", "driver.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count", "sched.delay_s": "s",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s", "exec.task_skew": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.spill_bytes": "B",
    "scan.input_bytes": "B", "scan.records": "count",
    "trace.overhead_frac": "ratio",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_record():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "mem_total_mb": mem_kb // 1024, "load1_before": os.getloadavg()[0]}


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
                         "run from the root of a graft checkout")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the first Spark distribution on PATH: a bin/ directory whose parent holds jars/
        homes = [os.path.dirname(d) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            raise BenchError("set SPARK_HOME or put a Spark distribution's bin directory on PATH")
        env["SPARK_HOME"] = homes[0]
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos +
                           " -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(WORK, "build.log")
    log("building engine + benchmark (first run in this checkout) ...")
    t0 = time.time()
    with open(log_path, "w") as out:
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise BenchError(f"build failed (exit {rc}); see {os.path.relpath(log_path, ROOT)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(CLASSPATH) as c:
        return c.read().strip()


_children = []


def run_child(cmd, limit, **kw):
    """Run a child process to completion (killing it after `limit` seconds)."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError(f"{os.path.basename(cmd[0])} exceeded {limit:.0f} s")
    finally:
        _children.remove(p)


def stop_children(*_):
    for p in list(_children):
        if p.poll() is None:
            p.kill()
            p.wait()
    raise SystemExit(130)


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(cp, args, workload, cores, seconds, scratch, deadline, extra=()):
    """One benchmark JVM at `cores` parallelism, pinned to that many CPUs."""
    cpus = sorted(os.sched_getaffinity(0))
    if cores > len(cpus):
        raise BenchError(f"refusing local[{cores}]: this host gives the benchmark only {len(cpus)} CPUs")
    pinned = cpus[:cores]
    tag = f"{workload}-seed{args.seed}-local{cores}"
    report = os.path.join(scratch, f"{tag}.json")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    # Fixed heap and young-generation sizes: with the collector's adaptive
    # sizing, shuffle_skew's rows_per_s spread 0.23 (quartile distance over
    # median) across five seeds on a 4-vCPU host; with fixed sizes, 0.08.
    # Survivor spaces of 256 MB hold what a young collection keeps of
    # tile_headline's working set; at 128 MB it overflowed into the old
    # generation on some runs and not others, so peak RSS fell into two
    # groups 250 MB apart.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn1g", "-XX:SurvivorRatio=2",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", f"{seconds:.3f}", "--cores", str(cores), "--trace", str(args.trace),
            "--scratch", scratch, "--report", report,
            "--setup-reps", str(SETUP_REPS if cores == LEVELS[workload][0] else 1)]
    if args.trace:
        cmd += ["--spans", os.path.join(WORK, "traces", f"{tag}.json")]
    cmd += list(extra)
    log_path = os.path.join(WORK, f"{tag}.log")
    with open(log_path, "w") as out:
        rc = run_child(cmd, limit=deadline - time.time(), cwd=scratch, stdout=out,
                       preexec_fn=lambda: os.sched_setaffinity(0, pinned))
    if not os.path.exists(report):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{tag} exited {rc} without a report:\n{tail}")
    with open(report) as f:
        r = json.load(f)
    r["exit_code"] = rc
    return r


def run_workload(cp, args, workload, deadline):
    scratch = os.path.join(WORK, f"scratch-{os.getpid()}-{workload}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    levels = LEVELS[workload] if args.scale and not args.trace else LEVELS[workload][:1]
    shared = os.path.join(scratch, "input.parquet")
    reports = []
    try:
        for i, c in enumerate(levels):
            extra = []
            if i == 0 and len(levels) > 1:
                extra += ["--save-input", shared]
            elif i > 0:
                extra += ["--load-input", shared]
            seconds = args.seconds * SHARE[c] if len(levels) > 1 else args.seconds
            reports.append(jvm(cp, args, workload, c, seconds, scratch, deadline, extra))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return summarize(workload, reports)


def summarize(workload, reports):
    """Merge the per-level JVM reports of one workload."""
    main = reports[0]
    attempted = sum(r["attempted"] for r in reports)
    failed = sum(r["failed"] for r in reports)
    mismatches = sum((r["mismatches"] for r in reports), [])
    # every level computes the same output: one more checked operation
    for r in reports[1:]:
        attempted += 1
        if r["output"] != main["output"]:
            failed += 1
            mismatches.append(f"local[{r['cores']}] output {r['output']} differs from "
                              f"local[{main['cores']}] output {main['output']}")
    e2e = dict(main["end_to_end"])
    e2e["fail_ratio"] = failed / attempted
    by_cores = {r["cores"]: r for r in reports}
    if 1 in by_cores and 4 in by_cores:
        e2e["scale_eff_1_4"] = (by_cores[4]["end_to_end"]["rows_per_s"] /
                                (4 * by_cores[1]["end_to_end"]["rows_per_s"]))
    return {"workload": workload, "attempted": attempted, "failed": failed,
            "exit_codes": [r["exit_code"] for r in reports],
            "mismatches": mismatches,
            "end_to_end": e2e, "per_layer": main["per_layer"],
            "jdk": main["jdk"], "spark": main["spark"], "rows": main["rows"],
            "levels": [{k: r[k] for k in ("cores", "warm_iterations", "warm_s", "traced_s",
                                          "setup_reps_s", "end_to_end")} for r in reports]}


def contract_metrics(summary, names):
    layer = "per_layer" if summary["trace"] else "end_to_end"
    missing = [n for n in names if n not in summary[layer]]
    if missing:
        raise BenchError(f"{summary['workload']} did not produce {', '.join(missing)}")
    return {n: {"value": summary[layer][n], "unit": UNITS[n]} for n in names}


def print_summary(s):
    print(f"== {s['workload']}  rows/iteration={s['rows']}  attempted={s['attempted']} "
          f"failed={s['failed']}  jdk={s['jdk']} spark={s['spark']}")
    for lv in s["levels"]:
        print(f"   local[{lv['cores']}]: {lv['warm_iterations']} warm iterations, "
              f"setup reps {['%.3f' % x for x in lv['setup_reps_s']]}")
    section = s["per_layer"] if s["trace"] else s["end_to_end"]
    for k in sorted(section):
        print(f"   {k:34s} {section[k]:>16.6g} {UNITS.get(k, '')}")
    for m in s["mismatches"]:
        print(f"   MISMATCH {m}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured window per workload (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, choices=(0, 1), default=1,
                    help="1: also run tile_headline on one core and report scale_eff_1_4")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, stop_children)
    t_start = time.time()
    try:
        bench = spec()
        if args.seconds is None:
            args.seconds = float(bench["run_seconds"])
        os.makedirs(WORK, exist_ok=True)
        host = host_record()
        cp = build()
        workloads = WORKLOADS if args.workload == "all" else (args.workload,)
        run_deadline = time.time() + RUN_LIMIT_S * len(workloads)
        summaries = []
        for w in workloads:
            s = run_workload(cp, args, w, run_deadline)
            s["trace"] = args.trace
            summaries.append(s)
        host["load1_after"] = os.getloadavg()[0]
    except BenchError as e:
        log(f"error: {e}")
        return 2
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    log("host " + json.dumps(host))
    metrics = {}
    for s in summaries:
        print_summary(s)
        m = contract_metrics(s, names)
        metrics.update(m if len(summaries) == 1 else {f"{s['workload']}/{k}": v for k, v in m.items()})
    attempted = sum(s["attempted"] for s in summaries)
    failed = sum(s["failed"] for s in summaries)
    ok = failed == 0 and all(c == 0 for s in summaries for c in s["exit_codes"])
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"host": host, "args": vars(args), "wall_s": time.time() - t_start,
                   "summaries": summaries}, f, indent=1)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
