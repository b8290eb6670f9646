#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload import_nested --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --steady --workload cdc_stream --seeds 1,2,3,4,5

A run builds the library and the benchmark program from source if needed
(build.py), starts one JVM with a local Spark session of half the machine's
cores (build.spark_cores), and
prints as its last line one JSON object: correct, attempted, failed and
metrics. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, measured
untraced; with --trace 1 they are the per-layer ones from a traced run.
Everything it writes stays under .bench_build/ in the checkout; the full
record of each run (environment, input hash, spans) is kept in
.bench_build/records/.

--steady repeats a workload over several seeds and prints, per metric, the
median, the quartiles and the spread (q3 - q1) / median, flagging any spread
above the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("import_nested", "cdc_stream", "lake_mor_mixed", "curate_dedup")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 870


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_commit():
    # the ceiling keeps git from taking the commit of a repository around
    # a checkout that is not one itself
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_times():
    """Machine-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests: on a shared
    host, the first thing to look at when a run is slower than its peers."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def run_once(workload, seed, seconds, trace, deadline):
    """Runs the JVM once; returns the parsed result object."""
    classes = build.ensure_built()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record_dir = os.path.join(build.BUILD, "records", f"{stamp}-{workload}-s{seed}-t{trace}")
    work = os.path.join(build.BUILD, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(record_dir, exist_ok=True)
    cores = build.spark_cores()
    out = os.path.join(record_dir, "result.json")
    cmd = build.java_command(classes, tmp, build.archive_option(classes))
    cmd += ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--work", work, "--out", out,
            "--spans", os.path.join(record_dir, "spans.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    with open(os.path.join(record_dir, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jvm_log, stderr=jvm_log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{workload} seed {seed}: run exceeded its time limit")
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(out):
        raise RuntimeError(f"{workload} seed {seed}: JVM exited {code} without a result; "
                           f"see {os.path.join(record_dir, 'jvm.log')}")
    with open(out) as f:
        result = json.load(f)
    record = result.pop("record", {})
    record.update(workload=workload, seed=seed, seconds=seconds, trace=trace,
                  nproc=len(os.sched_getaffinity(0)), spark_cores=cores, heap=build.HEAP, commit=git_commit(),
                  loadavg_start=load_start, loadavg_end=os.getloadavg(),
                  steal_share=steal_share(cpu_start, cpu_times()), jvm_exit=code)
    with open(os.path.join(record_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in record.get("errors", []):
        log(f"MISMATCH {workload} seed {seed}: {e}")
    if code != 0 and result.get("correct", False):
        raise RuntimeError(f"{workload} seed {seed}: JVM exited {code}")
    return result


def check_metrics(result, spec, trace):
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    got = result["metrics"]
    missing = [n for n in want if n not in got]
    if missing:
        raise RuntimeError(f"metrics missing from the run: {missing}")
    result["metrics"] = {n: got[n] for n in want}


def steady(args, spec):
    seeds = [int(s) for s in args.seeds.split(",")]
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    values = {m["name"]: [] for m in metrics}
    for seed in seeds:
        r = run_once(args.workload, seed, args.seconds, args.trace, time.time() + RUN_LIMIT_S)
        check_metrics(r, spec, args.trace)
        log(f"seed {seed}: correct={r['correct']} " +
            " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()))
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in metrics:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        flag = ""
        if bound is not None and spread > bound:
            flag = "  OVER BOUND"
        elif bound is not None and spread > bound / 3:
            flag = "  over bound/3"
        print(f"{m['name']:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{bound if bound is not None else '-':>6}{flag}")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", action="store_true", help="repeat over --seeds and print spreads")
    p.add_argument("--seeds", default="1,2,3,4,5")
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    try:
        spec = benchmark_spec()
        if args.seconds is None:
            args.seconds = spec["run_seconds"]
        build_start = time.time()
        build.ensure_built()
        compiled = time.time() - build_start > 5
        if args.steady:
            steady(args, spec)
            return 0
        # a run that had to build may take longer than one that did not
        limit = (FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S) - (time.time() - started)
        result = run_once(args.workload, args.seed, args.seconds, args.trace, time.time() + limit)
        check_metrics(result, spec, args.trace)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
