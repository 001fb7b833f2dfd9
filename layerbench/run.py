#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

Run from the root of a checkout:

    python3 layerbench/run.py --workload tpch --seed 1 --seconds 5 --trace 0

On first use it builds the library and the harness from source (sbt, in
layerbench/). The input tables are the fixed ones committed under
layerbench/data/ (sf 0.01; sf 0.001 for the smoke run). Each run starts one JVM (layerbench.LayerBench) that sets up the
session several times, runs an untimed verification pass, then times whole
passes over the workload's queries in an order drawn from --seed. Every
verified result is checked against its DuckDB oracle by the library's
gate (tools/check.py), and the last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes goes under $CARGO_TARGET_DIR (default
.bench_build): the build stamp and classpath, the tables, and one directory
per run holding result.json, summary.json, spans.jsonl, the JVM log and
the verified results.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("tpch", "tpch_sql", "llm_dedup", "llm_iterative")
DATA_SF = "0.01"
HEAP = "2g"
RUN_DEADLINE_S = 175
BUILD_DEADLINE_S = 850
# a run is flagged contended when the host was busy as it started (the
# one-minute load average still carries the previous run, so "busy" is
# twice the cores), when the tpch_q6 sentinel got slower by more than
# SENTINEL_DRIFT between start and end (as the JVM warms it gets up to 2x
# faster, so only a slowdown points at the host), or when the hypervisor
# took more than STEAL_BUSY of the machine's CPU time while the JVM ran
BUSY_LOAD_PER_CORE = 2
SENTINEL_DRIFT = 1.5
STEAL_BUSY = 0.05

# query_tail_s is in summary.json only: one pass gives 22 (tpch) or 4
# (llm_dedup) latencies, too few for any percentile above the median to
# have ten samples beyond it
E2E_UNITS = {"pass_s": "s", "query_p50_s": "s", "setup_s": "s"}
LAYER_UNITS = {
    "tables.load_jobs": "count", "tables.load_s": "s",
    "construct_s": "s", "construct.jobs": "count",
    "operators.eager_jobs": "count", "operators.eager_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.physical_s": "s",
    "exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.empty_task_ratio": "ratio",
    "exec.driver_s": "s", "exec.sched_delay_s": "s",
    "task.run_s": "s", "task.cpu_s": "s", "task.slot_util": "ratio",
    "task.exec_slot_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "memory.spill_bytes": "bytes", "memory.peak_exec_bytes": "bytes",
    "memory.gc_s": "s", "peak_rss_mb": "MB",
    "cache.put_bytes": "bytes", "cache.leftover_bytes": "bytes",
    "task.failed": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    """sha256 over the relative path and bytes of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles library + harness with sbt when the sources changed since
    the last build in this checkout; returns the runtime classpath and
    whether this call built."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"),
               os.path.join(HERE, "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness (sbt) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    with open(os.path.join(build_dir, "sbt.log"), "w") as f:
        f.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines()
           if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed (see {build_dir}/sbt.log)")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), True


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, build_dir, out, args, cores, data, deadline):
    tmp = os.path.abspath(os.path.join(build_dir, "tmp"))
    local = os.path.abspath(os.path.join(build_dir, "spark-local"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # a fixed, pre-touched heap: set-up and the timed passes then pay
    # neither heap growth nor first-touch page faults (over six alternating
    # pairs of tpch runs against a growing heap, set-up read faster in all
    # six and the timed pass, by 7-12%, in five)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "layerbench.LayerBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out, "--cores", str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    steal0, total0 = cpu_ticks()
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded its deadline (log: {out}/jvm.log)", 3)
    if code != 0:
        die(f"harness exited with {code} (log: {out}/jvm.log)", 3)
    steal1, total1 = cpu_ticks()
    with open(os.path.join(out, "result.json")) as f:
        r = json.load(f)
    r["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return r


def summarize(r, checks, trace):
    """The contract line's metrics plus the run record for summary.json."""
    lat = [q["latency_s"] for p in r["passes"] for q in p["queries"]
           if not q["traced"]]
    pct, tail_v, beyond = stats.tail(lat)
    if trace:
        # one entry per pair of passes: its traced queries' layers, their
        # summed latency and the same queries' summed latency untraced
        layers = r["layers"]
        values = {k: statistics.median([lr["metrics"][k] for lr in layers])
                  for k in LAYER_UNITS if k in layers[0]["metrics"]}
        values["peak_rss_mb"] = r["peak_rss_mb"]
        values["trace.pass_s"] = statistics.median(
            [lr["timed_s"] for lr in layers])
        values["trace.overhead_s"] = statistics.median(
            [lr["timed_s"] - lr["untraced_s"] for lr in layers])
        units = LAYER_UNITS
    else:
        values = {"pass_s": statistics.median(
                      [p["timed_s"] for p in r["passes"]]),
                  # the mean of the two middle latencies for an even count:
                  # of an llm_dedup pass's four it averages two queries,
                  # where the lower one alone spread 0.32 over ten runs
                  "query_p50_s": statistics.median(lat),
                  "setup_s": statistics.median(r["setup_s"])}
        units = E2E_UNITS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    failed_runs = [(q["name"], q["error"]) for p in r["passes"]
                   for q in p["queries"] if q["error"]]
    bad = {n: c for n, c in checks.items() if c != "OK"}
    ratio = r["sentinel_end_s"] / r["sentinel_start_s"]
    contended = (r["load_avg_start"] > BUSY_LOAD_PER_CORE * r["cores"]
                 or ratio > SENTINEL_DRIFT
                 or r["steal_share"] > STEAL_BUSY)
    record = {
        "metrics": metrics,
        "query_tail_s": {"value": tail_v, "percentile": pct,
                         "samples": len(lat), "beyond": beyond},
        "checks": checks,
        "failed_executions": failed_runs,
        "contended": contended,
        "sentinel_ratio": ratio,
    }
    attempted = sum(len(p["queries"]) for p in r["passes"]) + len(checks)
    return metrics, attempted, len(failed_runs) + len(bad), record


def main():
    ap = argparse.ArgumentParser(description="layered benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", choices=("0.01", "0.001"), default=DATA_SF,
                    help="scale of the fixed input tables")
    args = ap.parse_args()
    start = time.time()
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; one of {WORKLOADS}")
    if not (os.path.isdir("src/main/scala/graft")
            and os.path.isfile("build.sbt")):
        die("run from the root of a checkout of the library "
            "(src/main/scala/graft and build.sbt not found)")
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(build_dir, exist_ok=True)
    cp, built = build(build_dir)
    data = os.path.join(HERE, "data", f"sf{args.sf}")
    cores = len(os.sched_getaffinity(0))
    out = os.path.abspath(os.path.join(
        build_dir, "runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    os.makedirs(out, exist_ok=True)
    # building counts against the first run's longer allowance
    deadline = (time.time() if built else start) + RUN_DEADLINE_S
    r = run_jvm(cp, build_dir, out, args, cores, data, deadline)
    import oracle
    names = [v["name"] for v in r["verify"]]
    checks = oracle.check(data, os.path.join(out, "verify"), names,
                          f"sf{args.sf}")
    for v in r["verify"]:
        if v["error"]:
            checks[v["name"]] = f"ERROR {v['error']}"
    metrics, attempted, failed, record = summarize(r, checks, args.trace)
    record.update({k: r[k] for k in (
        "workload", "seed", "trace", "cores", "jvm_heap_max_bytes",
        "java_version", "spark_version", "spark_conf", "setup_s", "verify_s",
        "load_avg_start", "load_avg_end", "sentinel_start_s",
        "sentinel_end_s", "peak_rss_mb", "steal_share")})
    record["data_sf"] = args.sf
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for n, c in checks.items():
        if c != "OK":
            log(f"check failed: {n}: {c[:300]}")
    if record["contended"]:
        log(f"contended run: load {r['load_avg_start']} at start, sentinel "
            f"ratio {record['sentinel_ratio']:.2f}, steal "
            f"{r['steal_share']:.1%}")
    log(f"record: {out}/summary.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
