#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload crypto_etl --seed 1 --seconds 9 --trace 0

Builds the engine and the benchmark's JVM driver (perfbench/build.py),
runs the workload in one JVM (`local[nproc]`), checks its outputs and
prints every metric with its unit; the last stdout line is the JSON
result. `--trace 0` reports the end-to-end metrics; `--trace 1` runs the
traced variant and reports the per-layer metrics, the tracing overhead
and a span file under .bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("crypto_etl", "ingest_ticks")
JVM_TIMEOUT_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(cp: str, args: argparse.Namespace, work: str, out: str, cores: int) -> None:
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    cmd = (["java"] + build.jvm_flags()
           + [f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={local}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")


def cpu_times() -> list:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def children_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def cpu_shares(t0: list, t1: list, own_cpu_s: float) -> tuple:
    """(steal, others) over a run: the share of CPU time the hypervisor
    gave to other guests, and the share other processes of this machine
    used (busy time minus the benchmark JVM's own CPU time)."""
    if len(t0) < 8 or len(t1) < 8:
        return 0.0, 0.0
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d[:8]))
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    others = busy - own_cpu_s * os.sysconf("SC_CLK_TCK")
    return d[7] / total, max(0.0, others / total)


def contended(steal: float, others: float) -> bool:
    """Whether other processes held the cores during the run: over a
    tenth of the CPU time went to other guests or to other processes."""
    return steal > 0.10 or others > 0.10


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    cpu0, own0 = cpu_times(), children_cpu_s()
    try:
        run_jvm(cp, args, work, out, cores)
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    steal, others = cpu_shares(cpu0, cpu_times(), children_cpu_s() - own0)
    attempted, failed = metrics.attempts(raw)
    e2e, notes = metrics.end_to_end(raw)
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"workload {args.workload} seed {args.seed}: {notes['ticks']} timed iterations, "
          f"{len(raw['checks'])} checks, failed_share {notes['failed_share']:.4f} "
          f"({failed}/{attempted})")
    lat = [(it["end"] - it["start"]) / 1000.0 for it in raw["iters"]]
    print("iteration latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    print(f"loadavg start [{raw['loadavg_start']}] end [{raw['loadavg_end']}], "
          f"cpu steal {steal:.1%}, other processes {others:.1%}"
          + ("  CONTENDED: other processes held the cores"
             if contended(steal, others) else ""))

    untraced_cache = os.path.join(build.BUILD_DIR, "untraced",
                                  f"{args.workload}-{args.seed}.json")
    if args.trace == 0:
        names = metrics.END_TO_END
        values = e2e
        os.makedirs(os.path.dirname(untraced_cache), exist_ok=True)
        with open(untraced_cache, "w") as f:
            json.dump(e2e, f)
    else:
        names = metrics.per_layer_names()
        values = metrics.per_layer(raw)
        trace_dir = os.path.join(build.BUILD_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"spans": raw["spans"], "jobs": raw["jobs"],
                       "self_ms": metrics.span_self_times(raw["spans"]),
                       "per_layer": values}, f)
        print(f"spans and jobs written to {os.path.relpath(trace_file)}")
        for name, ms in sorted(metrics.span_self_times(raw["spans"]).items()):
            print(f"span self time {name}: {ms / 1000.0:.3f} s")
        if os.path.exists(untraced_cache):
            with open(untraced_cache) as f:
                base = json.load(f)["tick_p50_s"]
            print(f"tracing overhead (traced - untraced tick_p50_s): "
                  f"{e2e['tick_p50_s'] - base:+.4f} s on {base:.4f} s")
        else:
            print("tracing overhead: no untraced run of this workload and seed yet")

    result_metrics = {}
    for name, unit, _ in names:
        v = float(values[name])
        result_metrics[name] = {"value": v, "unit": unit}
        extra = ""
        if name == "tick_tail_s":
            extra = (f"  (p{notes['tick_tail_pct']:.1f} of {notes['ticks']} iterations"
                     + ("; ten or fewer samples: the maximum)" if notes["ticks"] <= 10 else ")"))
        print(f"{name} = {v:.6g} {unit}{extra}")
    correct = failed == 0 and notes["ticks"] > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))


if __name__ == "__main__":
    main()
