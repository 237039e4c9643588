#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload tuned_wordcount --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run, in one fresh process: generate the workload's inputs from the
seed, start a ``local[<cores>]`` session, stage and warm up (timed as
``setup_s``), make timed passes for ``--seconds`` with tracing off,
check the outputs, and print every metric with its unit. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of one more, traced pass with ``--trace 1``.
``--workload all`` runs every workload, each in its own process.

Everything the run writes lives under ``.perfbench/`` at the checkout
root and is removed at the end, except the span dump of a traced run
(``.perfbench/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench")
WORKLOADS = ("tuned_wordcount", "near_dup_search", "star_join_analytics")
DEADLINE_S = 160  # a run still going then is stopped and fails
TAIL_BEYOND = 10  # call_tail_s: highest percentile with this many calls beyond


def host_probe_s() -> float:
    """Fixed numpy work that touches no engine code: its time moves
    with host speed and load only."""
    import numpy as np

    rng = np.random.default_rng(0)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(rng.standard_normal(1_000_000))
        a = rng.standard_normal((300, 300))
        for _ in range(10):
            a = np.tanh(a @ a.T / 300.0)
    return time.perf_counter() - t0


def tail(calls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest call latency with at least
    TAIL_BEYOND calls above it. With fewer than 2 × TAIL_BEYOND + 1
    calls no percentile above the median has that many calls beyond
    it, and the median is reported: the slowest of a few calls is too
    noisy to compare across runs."""
    s = sorted(calls)
    n = len(s)
    if n <= 2 * TAIL_BEYOND:
        return statistics.median(s), 50.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def staged_dirs(data: str) -> list[str]:
    """Staged corpora under the engine's warehouse derived from the
    parquet inputs in ``data`` (matched by the fingerprint tag the
    engine puts in each staged directory's name)."""
    from robin_sparkles_spark.sources.staging import staged_path

    out = []
    for f in os.listdir(data):
        if not f.endswith(".parquet"):
            continue
        probe = staged_path(data, "x", f[: -len(".parquet")])
        warehouse, tag = os.path.dirname(probe), probe.rsplit("_", 1)[1]
        if os.path.isdir(warehouse):
            out += [
                os.path.join(warehouse, d)
                for d in os.listdir(warehouse)
                if d.endswith("_" + tag)
            ]
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.close()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run_one(args) -> int:
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK_ROOT, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (data, work, tmp):
        os.makedirs(d, exist_ok=True)
    # Pin the engine to this box: its session default is local[32].
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path.insert(0, REPO)
    import gen

    host_s = host_probe_s()
    t0 = time.perf_counter()
    props = gen.generate(args.workload, args.seed, data)
    generate_s = time.perf_counter() - t0
    input_mb = props["input_bytes"] / 1e6

    from robin_sparkles_spark.session import get_spark
    from spans import RestCounters, Tracer
    import workloads

    wl = workloads.make(args.workload)
    attempted = failed = 0
    spark = None
    staged: list[str] = []
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            },
        )
        t1 = time.perf_counter()
        wl.stage(spark, data)
        t2 = time.perf_counter()
        failed += wl.warm(spark, data, work)
        attempted += len(wl.calls)

        def one_pass(tag: str) -> list[float]:
            """Call latencies of one pass; failures counted."""
            nonlocal attempted, failed
            wl.new_pass(work, tag)
            lat = []
            for c in wl.calls:
                c0 = time.perf_counter()
                failed += wl.attempt(c, lambda: wl.run_call(spark, data, c))
                lat.append(time.perf_counter() - c0)
            attempted += len(lat)
            failed += wl.end_pass()
            return lat

        t3 = time.perf_counter()
        setup = {"start_s": t1 - t0, "staging_s": t2 - t1, "warm_s": t3 - t2}
        setup_s = t3 - t0

        passes: list[float] = []
        calls: list[float] = []
        begin = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            calls += one_pass(str(len(passes)))
            passes.append(time.perf_counter() - p0)
            elapsed = time.perf_counter() - begin
            if elapsed + statistics.median(passes) > args.seconds:
                break

        layer = {}
        if args.trace:
            tracer = Tracer(spark)
            layer, traced_failed = wl.traced(spark, data, work, tracer, RestCounters(spark))
            attempted += len(wl.calls)
            failed += traced_failed
            traced_pass = tracer.durations("pass")[0]
            layer["trace.overhead_s"] = traced_pass - statistics.median(passes)
            layer["session.start_s"] = setup["start_s"]
            layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            layer["sources.input_mb"] = input_mb
            layer["sources.staging_s"] = setup["staging_s"]

        failed += wl.check(spark, data, work)
        staged = staged_dirs(data)
        if args.trace:
            layer["sources.output_mb"] = layer.get("sources.output_mb", 0.0) + sum(
                workloads.dir_bytes(d)[1] for d in staged
            ) / 1e6
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            dump = os.path.join(WORK_ROOT, "traces", f"{args.workload}-s{args.seed}.json")
            tracer.dump(dump, {"metrics": layer, "setup": setup, "inputs": props})
    finally:
        if spark is not None:
            staged = staged or staged_dirs(data)
            stop_spark(spark)
        for d in staged + [run_dir]:
            shutil.rmtree(d, ignore_errors=True)

    p50 = statistics.median(calls)
    tail_s, tail_pct = tail(calls)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "call_p50_s": p50,
        "call_tail_s": tail_s,
        "input_mb_per_s": input_mb / statistics.median(passes),
    }
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  seconds {args.seconds}")
    print(f"inputs {json.dumps(props)}")
    print(f"generate_s {generate_s:.4f} s   host_probe_s {host_s:.4f} s (numpy, no engine code)")
    print(
        f"setup_s {setup_s:.4f} s  (session start {setup['start_s']:.4f} s, "
        f"staging {setup['staging_s']:.4f} s, warm-up pass {setup['warm_s']:.4f} s)"
    )
    print(f"pass_s {e2e['pass_s']:.4f} s  (median of {len(passes)} passes: {[round(p, 3) for p in passes]})")
    print(f"call_p50_s {p50:.4f} s  ({len(calls)} calls)")
    print(f"call_tail_s {tail_s:.4f} s  (p{tail_pct:.1f} of {len(calls)} calls)")
    print(f"input_mb_per_s {e2e['input_mb_per_s']:.4f} MB/s  (input {input_mb:.3f} MB)")
    print(f"error_rate {failed / attempted:.4f}  ({failed} failed of {attempted} calls)")
    print("timed calls " + ", ".join(f"{c} {t:.3f}" for c, t in zip(wl.calls * len(passes), calls)))
    for line in wl.report():
        print(line)
    for f in wl.failures:
        print(f"FAILED {f}")
    if args.trace:
        for k in sorted(layer):
            print(f"{k} {layer[k]:.6g}")
        print(f"spans written to {dump}")
    spec = benchmark_spec()["per_layer" if args.trace else "end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def benchmark_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args) -> int:
    """Each workload in its own process; prints each result, then one
    JSON line with every workload's metrics prefixed by its name."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            rc = proc.returncode or 1
            continue
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    if rc:
        return rc
    print(json.dumps(total))
    return 0


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    if not os.path.isdir(os.path.join(REPO, "robin_sparkles_spark")):
        print(f"perfbench: no engine package at {REPO}/robin_sparkles_spark", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
