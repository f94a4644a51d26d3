#!/usr/bin/env python3
"""Seeded benchmark of the graft engine.

    python3 perfbench/run.py --workload terasort --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark from source (sbt, offline); later runs reuse the build until a
source file changes. One run is one JVM: set-up (session, seeded input
generation), a fixed number of warm-up and timed iterations of the
workload (perfbench.Workload.Iterations), a planted-truth check of every
result, and with --trace 1 one more iteration with each layer in its own
span. --seconds is accepted and recorded but
does not change the work: one iteration always takes longer than the
declared run_seconds. The last line of standard output is the result JSON;
the lines before it carry every raw sample and the host evidence, and
the same detail is written under .bench_out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
WORKLOADS = ("terasort", "neardup", "crawl_curate")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
# A fixed heap and young generation: G1 otherwise sizes both from the pause
# times it sees, so the number of collections per iteration (and the CPU
# they take) changed from run to run, 4 to 16 on terasort, and split the
# runs into a fast and a slow group. Fixed, the count follows what an
# iteration allocates (15-19 on terasort); a young generation this small
# collects often enough for the post-GC samples of heap_peak_mb to catch
# the peak (with 256 MB, 4 samples an iteration, its spread doubled).
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn64m"]
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


def sources_stamp():
    """Fingerprint of every input of the build: path, size, mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    return env


def sbt(*tasks, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    log(f"running {' '.join(cmd)} in perfbench/")
    try:
        return run_child(cmd, HERE, timeout, sbt_env())
    except subprocess.TimeoutExpired:
        log(f"sbt exceeded {timeout} s; stopped")
        return 1


def run_child(cmd, cwd, timeout, env=None):
    """Runs `cmd` in its own process group, output to stderr. The whole
    group is killed and reaped on timeout, or when this launcher is
    interrupted or terminated."""
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                             stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(*_):
        raise KeyboardInterrupt
    signal.signal(signal.SIGTERM, stop)
    try:
        return child.wait(timeout=timeout)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()


def ensure_built():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = sources_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return True
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    if sbt("writeClasspath", timeout=BUILD_TIMEOUT_S) != 0 or not os.path.isfile(CLASSPATH):
        log("build failed")
        return False
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return True


def cpu_ticks():
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(res):
    job, cpu, heap = res["job_s"], res["cpu_s"], res["heap_peak_mb"]
    gen = res["gen_s"]
    e2e = {
        "job_s": (median(job), "s"),
        "cpu_s": (median(cpu), "s"),
        "heap_peak_mb": (max(heap) if heap else float("nan"), "MB"),
        "setup_s": (res["jvm_start_s"] + res["session_s"] + median(gen), "s"),
    }
    fail_ratio = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    raw = {"job_s": job, "cpu_s": cpu, "jit_s": res["jit_s"], "heap_peak_mb": heap, "gen_s": gen,
           "jvm_start_s": res["jvm_start_s"], "session_s": res["session_s"]}
    return e2e, fail_ratio, raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1,
                    help="recorded only; a run always times one iteration")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests (generators and checks)")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("the program's sources (src/main/scala/graft, build.sbt) are not next to perfbench/")
        return 2
    if a.selftest:
        return 0 if sbt("test", timeout=BUILD_TIMEOUT_S) == 0 else 1
    if a.workload is None:
        ap.error("--workload is required")
    if not ensure_built():
        return 3
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    run_dir = os.path.join(WORK, a.workload)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)

    load_before = load1()
    ticks0 = cpu_ticks()
    launch_ns = time.time_ns()
    cmd = (["java", *HEAP]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(a.trace), "--work", run_dir, "--result", result_file,
              "--launch-ns", str(launch_ns)])
    budget = RUN_TIMEOUT_S
    try:
        # spark.local.dir (inside the checkout) only holds without this override
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        rc = run_child(cmd, ROOT, budget, env)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {budget:.0f} s; stopped")
        return 4
    ticks1 = cpu_ticks()
    load_after = load1()
    if rc != 0 or not os.path.isfile(result_file):
        log(f"benchmark JVM failed (exit {rc})")
        return 5
    with open(result_file) as f:
        res = json.load(f)

    total = ticks1[0] - ticks0[0]
    host = {"nproc": os.cpu_count(), "jvm_cores": res["cores"],
            "jvm_max_heap_mb": res["max_heap_mb"],
            "load1_before": load_before, "load1_after": load_after,
            "steal_s": (ticks1[1] - ticks0[1]) / os.sysconf("SC_CLK_TCK"),
            "steal_share": (ticks1[1] - ticks0[1]) / total if total > 0 else 0.0}
    e2e, fail_ratio, raw = summarize(res)
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              "fail_ratio": fail_ratio, "raw": raw, "host": host,
              "warmup_s": res.get("warmup_s"), "gc_count": res.get("gc_count"),
              "input_checksum": res.get("input_checksum"),
              "gen_spans_in_job": res.get("gen_spans_in_job"),
              "attempted": res["attempted"], "failed": res["failed"],
              "failures": res["failures"], "layers": res.get("layers"),
              "trace_file": res.get("trace_file"), "spans": res.get("spans")}
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    fmt = lambda xs: "[" + ", ".join(f"{x:.4f}" for x in xs) + "]"
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} seconds={a.seconds} "
          f"attempted={res['attempted']} failed={res['failed']}")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:12.4f} {u:<3} raw={fmt(raw['gen_s' if k == 'setup_s' else k])}")
    print(f"  {'fail_ratio':<14} {fail_ratio:12.4f} ratio")
    print(f"  job_s samples={len(raw['job_s'])} (median of the run; tail percentiles are taken across runs)")
    print(f"  cpu_s includes JIT compiler time per iteration {fmt(raw['jit_s'])}")
    print(f"  setup_s = jvm_start {raw['jvm_start_s']:.4f} + session {raw['session_s']:.4f}"
          f" + median(gen_s {fmt(raw['gen_s'])})")
    print("  host " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                               for k, v in host.items()))
    for msg in res["failures"]:
        print(f"  FAILED {msg}")
    if a.trace:
        for k, v in sorted(res["layers"].items()):
            print(f"  layer {k:<30} {v:.6g}")

    # BENCHMARK.json names the metrics and their units; report exactly those
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    values = res["layers"] if a.trace else {k: v for k, (v, _) in e2e.items()}
    metrics = {k: {"value": values.get(k), "unit": u} for k, u in declared.items()}
    undeclared = sorted(set(values) - set(declared))
    if undeclared:
        log(f"measured but not declared in BENCHMARK.json: {undeclared}")
    for m in metrics.values():  # unmeasured (missing or NaN) reads null, never NaN
        if m["value"] is not None and math.isnan(m["value"]):
            m["value"] = None
    ok = res["failed"] == 0 and not undeclared and all(
        m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def declared_metrics(section):
    """{name: unit} of one metric section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
