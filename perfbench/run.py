#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 5 --trace 0

One Python process drives ``local[nproc]`` as a single closed-loop
client. It builds the session, runs every op of the workload once
(set-up), then runs whole passes over the workload's ops
until ``--seconds`` have elapsed, checking every output. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full result, with the
run context, is also written under ``.perfbench/results/``.

``--trace 1`` runs the same with Spark's event log on and prints the
per-layer metrics instead (see README.md). Its ``trace.overhead_ratio``
compares it with the untraced runs recorded in the same checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ENGINE = "crypto_data_pipeline_with_kafka_spark"
HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    from workloads import DASHBOARD_OPS

    units = {
        "process.peak_rss_mb": "MB",
        "session.start_s": "s",
        "session.warm_s": "s",
        "catalog.load_s": "s",
    }
    for q in DASHBOARD_OPS:
        for m, u in (
            ("build_s", "s"),
            ("build_py_s", "s"),
            ("build_jobs", "count"),
            ("action_s", "s"),
            ("tasks", "count"),
            ("cpu_s", "s"),
        ):
            units[f"plans.{q}.{m}"] = u
    units.update(
        {
            "operators.jobs": "count",
            "operators.tasks": "count",
            "operators.task_mean_ms": "ms",
            "operators.run_s": "s",
            "operators.cpu_s": "s",
            "operators.gc_s": "s",
            "operators.shuffle_read_mb": "MB",
            "operators.shuffle_write_mb": "MB",
            "operators.spill_mb": "MB",
            "streaming.prices.batch_p50_s": "s",
            "streaming.engine_s": "s",
            "streaming.prices.growth": "ratio",
            "sources.rescan_ratio": "ratio",
            "warehouse.write_amp": "ratio",
            "warehouse.space_amp": "ratio",
            "warehouse.store_files": "count",
            "trace.overhead_ratio": "ratio",
        }
    )
    return units


def process_start() -> float:
    """Epoch time at which this process started, from /proc (10 ms
    resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_context(args, inherited_cpus: str | None) -> dict:
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS_inherited": inherited_cpus,
        "loadavg_start": os.getloadavg(),
        "cpu_jiffies_start": cpu_jiffies(),
        "python": platform.python_version(),
        "git_commit": None,
    }
    try:
        ctx["git_commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        pass
    return ctx


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_passes(wl, spark, seconds: float) -> tuple[list, list[float]]:
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    ops, pass_s = [], []
    t0 = time.time()
    while not pass_s or time.time() - t0 < seconds:
        pass_ops, secs = wl.run_pass(spark)
        ops += pass_ops
        pass_s.append(secs)
    return ops, pass_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = process_start()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # The load is local[nproc]; every scratch file stays in the checkout.
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        result = run(args, root, work, t_proc, WORKLOADS[args.workload], inherited_cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["context"]))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def results_dir(root: str) -> str:
    return os.path.join(root, ".perfbench", "results")


def untraced_pass_s(root: str, workload: str) -> list[float]:
    """``pass_s`` of every untraced run of ``workload`` recorded in this
    checkout."""
    out = []
    for path in glob.glob(os.path.join(results_dir(root), f"{workload}-seed*-trace0-*.json")):
        with open(path) as f:
            detail = json.load(f)
        if detail["correct"]:
            out += detail["pass_s"]
    return out


def run(
    args, root: str, work: str, t_proc: float, workload_cls, inherited_cpus: str | None
) -> dict:
    import layers
    import spans
    from workloads import Bench

    ctx = run_context(args, inherited_cpus)
    conf = {}
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    bench = Bench(root, work, args.seed)
    t = time.time()
    wl = workload_cls(bench)  # generates the inputs on a checkout's first run
    input_gen_s = time.time() - t

    spark = bench.get_spark(conf)
    ctx["spark"] = spark.version
    ctx["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    wl.attach(spark)
    with bench.tracer.span("session.warm"):
        warm_ops = wl.warm(spark)
    setup_s = time.time() - t_proc - input_gen_s

    first_measured = len(bench.tracer.spans)
    wl.load_catalog(spark)
    ops, pass_s = run_passes(wl, spark, args.seconds)
    rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    stop_spark(spark)

    if args.trace:
        lines = []
        for path in sorted(glob.glob(os.path.join(evdir, "*"))):
            with open(path) as f:
                lines += f.readlines()
        values = layers.per_layer(bench.tracer.spans, first_measured, lines, wl.drains)
        ref = untraced_pass_s(root, args.workload)
        # 0 until an untraced run of this workload is recorded in the checkout
        values["trace.overhead_ratio"] = spans.median(pass_s) / spans.median(ref) if ref else 0.0
        values["process.peak_rss_mb"] = rss
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": spans.median(pass_s),
            "op_p50_s": spans.median([o.latency_s for o in ops]),
        }
        units = END_TO_END
    metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}

    all_ops = warm_ops + ops
    failed = sum(not o.ok for o in all_ops)
    tail = spans.tail_percentile([o.latency_s for o in ops])
    ctx["loadavg_end"] = os.getloadavg()
    steal, total = (b - a for a, b in zip(ctx.pop("cpu_jiffies_start"), cpu_jiffies()))
    # CPU time the hypervisor gave to other guests: a noisy-neighbour window
    ctx["cpu_steal_share"] = steal / total if total else 0.0
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
        "context": ctx,
    }
    detail = dict(
        result,
        fail_ratio=failed / len(all_ops),
        setup_s=setup_s,
        input_gen_s=input_gen_s,
        pass_s=pass_s,
        peak_rss_mb=rss,
        op_tail=None if tail is None else {"percentile": tail[0], "value_s": tail[1]},
        ops=[vars(o) for o in ops],
    )
    os.makedirs(results_dir(root), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
    with open(os.path.join(results_dir(root), name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return result


if __name__ == "__main__":
    sys.exit(main())
