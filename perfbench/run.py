#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload query_mix|daily_pipeline --seed N
      --seconds S --trace 0|1

Builds the engine and the harness with sbt on first use (outputs under
.bench_build/ and the sbt target/ directories), makes the workload's input
from the seed, runs perfbench.Harness in one JVM at local[nproc/2], checks
the outputs against DuckDB, and prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer ones.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_events  # noqa: E402

WORKLOADS = ("query_mix", "daily_pipeline")
# the fixed query_mix tables, committed with the benchmark
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170  # the run after the build: input, JVM and checks
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit (as the program's build.sbt sets)
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


def cores():
    return len(os.sched_getaffinity(0))


def spark_cores():
    """local[N] with half the CPUs left to the driver thread, the JIT and
    the GC. At the benchmark's input sizes both workloads are bound by the
    driver (planning, job scheduling, collects), not by the executors:
    on a 4-vCPU VM local[2] ran as fast as local[3], and its timings
    spread less when other guests of the host were busy."""
    return max(1, cores() // 2)


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GB: the sizing the repository's
    test command uses."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def sources_stamp():
    """Newest modification time of anything the build compiles."""
    newest = 0.0
    for base in ("src/main", "perfbench/src", "project", "perfbench/project"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            if "target" in d.split(os.sep):
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", "perfbench/build.sbt"):
        newest = max(newest, os.path.getmtime(os.path.join(ROOT, f)))
    return newest


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_stamp():
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building the engine and the harness with sbt")
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath"],
                    cwd=HERE, env=env, limit=BUILD_LIMIT_S,
                    log_path=os.path.join(WORK, "build.log"))
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        raise SystemExit("sbt printed no classpath; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


def run_child(cmd, cwd, env, limit, log_path):
    """Runs a child in its own process group, kills the group at the time
    limit, waits for it, and returns its stdout. Raises on failure."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"{cmd[0]} exited {p.returncode}:\n{out[-2000:]}\n{tail}")
    return out


def daily_data(seed):
    """The generated events for a seed, made once per parameter set and
    reused."""
    d = os.path.join(WORK, "data", f"daily-seed{seed}")
    meta = os.path.join(d, "params.json")
    if not os.path.exists(meta) or json.load(open(meta))["params"] != gen_events.PARAMS:
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_events.generate(tmp, seed)
        os.rename(tmp, d)
    with open(meta) as f:
        return d, json.load(f)


def run_harness(cp, workload, data, seed, seconds, trace, run_dir, limit):
    n = spark_cores()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
               GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               TMPDIR=tmp)
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    heap = f"{heap_gb()}g"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "--workload", workload,
              "--data", data, "--out", os.path.join(run_dir, "out"),
              "--seconds", str(seconds), "--seed", str(seed),
              "--trace", "1" if trace else "0", "--cpus", str(n),
              "--result", result, "--spans", spans])
    run_child(cmd, cwd=run_dir, env=env, limit=limit,
              log_path=os.path.join(run_dir, "jvm.log"))
    with open(result) as f:
        return json.load(f)


def steal_s():
    """Time the hypervisor gave this machine's CPUs to others (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def summary(xs):
    """Median, the highest percentile with at least ten samples beyond it
    (none below twenty samples), and the sample count."""
    s = sorted(xs)
    out = {"median": median(s), "n": len(s)}
    for q in (99, 95, 90):
        if len(s) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = s[min(len(s) - 1, math.ceil(len(s) * q / 100) - 1)]
            break
    return out


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main(argv=None):
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops and waits for its children (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a checkout "
                             "of the repository")
    import checks
    cp = build()
    t_start = time.time()

    info = {"cores": cores(), "spark_cores": spark_cores(), "heap_gb": heap_gb(),
            "seed": a.seed, "workload": a.workload, "seconds": a.seconds}
    if a.workload == "query_mix":
        data = MIX_DATA
        info["input"] = {"tables": data, "bytes": checks.dir_bytes(data)}
    else:
        data, gen = daily_data(a.seed)
        info["input"] = {"events": gen, "bytes": checks.dir_bytes(data)}

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        limit = RUN_LIMIT_S - (time.time() - t_start)
        steal0 = steal_s()
        res = run_harness(cp, a.workload, data, a.seed, a.seconds, a.trace,
                          run_dir, limit)
        info["steal_s"] = steal_s() - steal0
        verdicts = checks.run_checks(res["checks"], a.workload, data, cores(),
                                     os.path.join(run_dir, "duckdb-tmp"))
    finally:
        logs = os.path.join(WORK, "logs")
        os.makedirs(logs, exist_ok=True)
        jvm_log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(jvm_log):
            shutil.copy(jvm_log, os.path.join(
                logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = checks.count_failures(res, verdicts)
    bad = [v for v in verdicts if not v["ok"]]
    correct = failed == 0 and not bad

    calls = {k: median(v) for k, v in res["calls_s"].items() if v}
    calls_cpu = {k: median(v) for k, v in res["calls_cpu_s"].items() if v}
    e2e = {
        "setup_s": res["setup_s"],
        "iteration_cpu_s": median(res["iterations_cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    report = dict(info, heap_max_mb=res["heap_max_mb"], info=res["info"],
                  iterations=dict(summary(res["iterations_s"]), raw=res["iterations_s"]),
                  iterations_cpu=dict(summary(res["iterations_cpu_s"]),
                                      raw=res["iterations_cpu_s"]),
                  calls={k: summary(v) for k, v in res["calls_s"].items() if v},
                  calls_cpu={k: summary(v) for k, v in res["calls_cpu_s"].items() if v},
                  call_geomean_s=geomean(list(calls.values())) if calls else None,
                  call_geomean_cpu_s=geomean(list(calls_cpu.values())) if calls_cpu else None,
                  failed_ratio=failed / attempted if attempted else None,
                  errors=res["errors"][:20], failed_checks=bad,
                  passed_checks=[v["name"] for v in verdicts if v["ok"]],
                  setup={"sessions_build_s": res["sessions_build_s"],
                         "cold_iteration_s": res["cold_s"],
                         "untimed_warmup_s": res["warmup_s"]},
                  jvm={"cpu_s": res["cpu_s"], "jit_s": res["jit_s"],
                       "gc_s": res["gc_s"]})
    if a.trace:
        report["per_layer"] = res["per_layer"]
    # the same numbers under the per-workload names
    it = "mix_pass_s" if a.workload == "query_mix" else "daily_run_s"
    report[it] = report["iterations"]
    if a.workload == "query_mix":
        report["query_geomean_s"] = report["call_geomean_s"]
    print(json.dumps(report, indent=1, sort_keys=True))
    for v in bad:
        log(f"check failed: {v['name']}: {v['detail']}")
    for e in res["errors"][:20]:
        log(f"error: {e}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        values = res["per_layer"]
        wanted = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in wanted if n not in values]
        if missing:
            log(f"per-layer metrics missing from the trace: {missing}")
            correct = False
    else:
        values = e2e
        wanted = [m["name"] for m in spec["end_to_end"]]
    metrics = {n: {"value": values.get(n), "unit": units[n]} for n in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
