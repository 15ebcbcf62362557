#!/usr/bin/env python3
"""Benchmark of the engine: two closed-loop workloads, one client each.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload light_queries --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table
    python3 perfbench/run.py --workload all --trace 1   # per layer, and tracing overhead
    python3 perfbench/run.py --smoke             # tiny run: every metric name prints

One run is one fresh process; Spark runs on local[nproc]:

1. generate the inputs from ``--seed`` (untimed);
2. start the session, in a new JVM;
3. run the first pass, whose results are checked
   (DuckDB oracle digests for specs; Python-computed sums for the
   initial ETL load), then one untimed warm-up pass. ``setup_s`` is the
   session start plus these two passes;
4. time as many whole passes as fit ``--seconds`` at the workload's
   nominal pace (``pass_s``), in an order drawn from the seed, so every
   run times the same ops. Each op's latency is its median over the
   passes, so a pass in which the JVM was still warming or the machine
   was slow drops out of ``wall_s`` instead of moving it.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones in BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, from spans the benchmark opens around its calls into
each module and from Spark's event log, which only the traced run
enables. The line before it, ``SUMMARY {...}``, adds sample counts,
error rate, op_p90_s, peak RSS, drift and the environment.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "work")
PACKAGE = "mcas_question2_etl_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", help="light_queries, etl_refresh or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny run at sf0.001")
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required")
    return args


def configure(root: str, trace: bool) -> tuple[int, dict[str, str]]:
    """Pin the run's environment inside the work directory and return
    (cores, extra Spark conf). The driver heap is a quarter of RAM, at
    most 4 GiB, instead of the session factory's 48g default."""
    for d in ("tmp", "spark-local", "events", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, ram_mb // 4)}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            # no hsperfdata files in the system temp dir from any JVM
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return cpus, conf


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident MB of (the Spark JVM, this Python driver)."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return hwm_kb / 1024, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def tmp_mb(path: str) -> float:
    total = 0
    for entry in os.listdir(path):
        if entry.startswith("mcas_"):
            for d, _, files in os.walk(os.path.join(path, entry)):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    proc = SparkContext._gateway.proc
    if spark is not None:
        spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def quantile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[int(q * 10) - 1]


def run_one(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found: run from the root of a checkout", file=sys.stderr)
        return 2
    lock = open(os.path.join(HERE, ".lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("another run is using perfbench/work", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    cpus, conf = configure(root, bool(args.trace))
    sys.path.insert(0, root)

    import numpy as np
    from pyspark import SparkContext

    import tracing
    import workloads
    from mcas_question2_etl_spark.session import get_spark

    phases = {}
    t_phase = time.perf_counter()
    wl = workloads.make(args.workload, args.smoke)
    wl.prepare(WORK, args.seed)
    phases["prepare"] = time.perf_counter() - t_phase
    rng = np.random.default_rng(args.seed)
    tr = tracing.Tracer(bool(args.trace))
    if tr.enabled:
        install_spans(tr)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        start_s = phases["start"] = time.perf_counter() - t0
        jvm_pid = SparkContext._gateway.proc.pid
        tr.sc = spark.sparkContext

        attempted = failed = 0
        errors: dict[str, str] = {}
        persisted_max = 0

        def do(name, op) -> float:
            nonlocal attempted, failed, persisted_max
            t0 = time.perf_counter()
            try:
                took, problem = op(spark, tr)
            except Exception as e:  # a failing op is counted, and the run goes on
                took = time.perf_counter() - t0
                problem = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
            attempted += 1
            if problem:
                failed += 1
                errors.setdefault(name, problem)
            if tr.phase == "timed":
                persisted_max = max(persisted_max, persisted_rdds(spark))
            return took

        tr.phase = "warmup"
        t_check = time.perf_counter()
        # the first ops, checked: table warm-up and lazy first-use work
        # land here, so setup_s holds them
        first_pass_s = sum(do(name, op) for name, op in wl.checks())
        phases["check"] = time.perf_counter() - t_check
        # one untimed pass: a fresh JVM is still compiling the engine's
        # code; a fixed count keeps the timed ops a function of the seed
        t_warm = time.perf_counter()
        warm_pass_s = sum(do(name, op) for name, op in wl.ops(rng))
        phases["warm"] = time.perf_counter() - t_warm

        tr.phase = "timed"
        wl.files_written = wl.bytes_written = wl.user_bytes = 0
        # whole passes, as many as fit --seconds at the workload's nominal
        # pace, so every run times the same op mix and count
        n_passes = max(1, round(args.seconds / wl.pass_s))
        pass_ops: list[list[tuple[str, float]]] = []
        t_start = time.perf_counter()
        for _ in range(n_passes):
            pass_ops.append([(name, do(name, op)) for name, op in wl.ops(rng)])
        phases["timed"] = time.perf_counter() - t_start
        op_times = [t for p in pass_ops for _, t in p]
        wall_s = median_pass(pass_ops)

        rss = peak_rss_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)
    leftover_mb = tmp_mb(os.path.join(WORK, "tmp"))
    phases["stop"] = time.perf_counter() - t_start - phases["timed"]

    n = len(op_times)
    end_to_end = {
        "setup_s": (start_s + first_pass_s + warm_pass_s, "s", 1),
        "wall_s": (wall_s, "s", len(pass_ops)),
        "op_p50_s": (statistics.median(op_times), "s", n),
    }
    if tr.enabled:
        layers = layer_metrics(tr, wl, n, cpus, app_id, wall_s, persisted_max, leftover_mb)
        layers["session.start_s"] = (start_s, "s", 1)
        layers["timed.drift"] = (drift(pass_ops), "ratio", n)
        metrics = layers
    else:
        metrics = end_to_end
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": {k: v[2] for k, v in metrics.items()},
        "error_rate": failed / attempted,
        "errors": errors,
        "op_p90_s": [quantile(op_times, 0.9), n] if n >= 10 else None,
        "drift": drift(pass_ops),
        "op_s": [round(t, 4) for t in op_times],
        "peak_rss_mb": {"jvm": rss[0], "python": rss[1], "total": sum(rss)},
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "env": {
            k: os.environ[k]
            for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR")
        },
    }
    shutil.rmtree(WORK, ignore_errors=True)
    print("SUMMARY " + json.dumps(summary))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def median_pass(pass_ops: list[list[tuple[str, float]]]) -> float:
    """A pass's time from each op's median latency over the passes: the
    sum, over the ops of one pass, of the median time of that op."""
    by_op: dict[str, list[float]] = {}
    for p in pass_ops:
        for name, t in p:
            by_op.setdefault(name, []).append(t)
    return sum(statistics.median(ts) * len(ts) for ts in by_op.values()) / len(pass_ops)


def drift(pass_ops: list[list[tuple[str, float]]]) -> float:
    """Median op time of the timed phase's second half over its first
    half, minus one; halves are whole passes when there are two or more."""
    if len(pass_ops) >= 2:
        h = len(pass_ops) // 2
        first = [t for p in pass_ops[:h] for _, t in p]
        second = [t for p in pass_ops[-h:] for _, t in p]
    else:
        ops = [t for _, t in pass_ops[0]]
        h = len(ops) // 2
        first, second = ops[:h] or ops, ops[-h:] or ops
    return statistics.median(second) / statistics.median(first) - 1


def install_spans(tr) -> None:
    """Attribute the package's own internal calls: table loads made by
    specs go to ``catalog``, join/key validations to ``checks``."""
    import mcas_question2_etl_spark.pipelines.dashboard  # noqa: F401
    import mcas_question2_etl_spark.pipelines.school_outcomes  # noqa: F401
    import mcas_question2_etl_spark.plans.suite  # noqa: F401  (loads every plan module)
    from mcas_question2_etl_spark import catalog, quality

    import tracing

    tracing.patch_everywhere(tr, PACKAGE, catalog.load_table, "catalog")
    tracing.patch_everywhere(tr, PACKAGE, quality.validate_join, "checks")
    tracing.patch_everywhere(tr, PACKAGE, quality.assert_unique_key, "checks")


def layer_metrics(tr, wl, n, cpus, app_id, wall_s, persisted_max, leftover_mb):
    import tracing

    ev = tracing.read_event_log(os.path.join(WORK, "events", app_id))

    def per_op(d, layer, scale=1.0):
        return d.get(f"timed:{layer}", 0) * scale / n

    s = tr.self_s
    exec_s = s.get("execute", 0.0)
    m = {
        "catalog.load_s": (s.get("catalog", 0.0) / n, "s/op"),
        "catalog.infer_jobs_per_op": (per_op(ev.jobs, "catalog"), "jobs/op"),
        "plans.build_s_per_op": (s.get("plans", 0.0) / n, "s/op"),
        "plans.build_jobs_per_op": (per_op(ev.jobs, "plans"), "jobs/op"),
        "execute.run_s_per_op": (exec_s / n, "s/op"),
        "execute.jobs_per_op": (per_op(ev.jobs, "execute"), "jobs/op"),
        "execute.tasks_per_op": (per_op(ev.tasks, "execute"), "tasks/op"),
        "execute.task_run_s": (per_op(ev.run_s, "execute"), "s/op"),
        "execute.task_cpu_s": (per_op(ev.cpu_s, "execute"), "s/op"),
        "execute.gc_s": (per_op(ev.gc_s, "execute"), "s/op"),
        "execute.shuffle_write_mb": (per_op(ev.shuffle_write_b, "execute", 2**-20), "MB/op"),
        "execute.core_util": (
            ev.run_s.get("timed:execute", 0.0) / (exec_s * cpus) if exec_s else 0.0,
            "ratio",
        ),
        "materialize.persisted_rdds_max": (persisted_max, "count"),
        "materialize.tmp_mb_left": (leftover_mb, "MB"),
        "pipelines.transform_s": (s.get("pipelines", 0.0) / n, "s/op"),
        "pipelines.check_s": (s.get("checks", 0.0) / n, "s/op"),
        "pipelines.check_jobs_per_op": (per_op(ev.jobs, "checks"), "jobs/op"),
        "sources.ingest_s": (s.get("sources.ingest", 0.0) / n, "s/op"),
        "sources.write_s": (s.get("sources.write", 0.0) / n, "s/op"),
        "sources.files_written_per_op": (wl.files_written / n, "files/op"),
        "sources.bytes_per_user_byte": (
            wl.bytes_written / wl.user_bytes if wl.user_bytes else 0.0,
            "ratio",
        ),
        "dashboard.read_s": (s.get("dashboard", 0.0) / n, "s/op"),
        "dashboard.jobs_per_op": (per_op(ev.jobs, "dashboard"), "jobs/op"),
        "trace.wall_s": (wall_s, "s"),
    }
    return {k: (v, unit, 1 if k == "materialize.tmp_mb_left" else n) for k, (v, unit) in m.items()}


def run_many(args) -> int:
    """Each workload in its own process; print one row per metric. With
    tracing, each workload also runs untraced, and the tracing overhead
    is the traced run's trace.wall_s minus the untraced wall_s."""
    import workloads

    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    modes = (0, 1) if args.smoke or args.trace else (0,)
    extra = ["--smoke"] if args.smoke else []
    seconds = 1 if args.smoke else args.seconds
    ok = True
    print(f"{'workload':14} {'trace':5} {'metric':32} {'value':>12} {'unit':8} {'n':>5}")
    for name in workloads.NAMES:
        walls = {}
        for mode in modes:
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(mode),
            ] + extra
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{name}: exited {out.returncode}")
                ok = False
                continue
            result = json.loads(lines[-1])
            summary = json.loads(next(ln for ln in lines if ln.startswith("SUMMARY "))[8:])
            for metric, v in result["metrics"].items():
                n = summary["samples"][metric]
                print(f"{name:14} {mode:5} {metric:32} {v['value']:12.4f} {v['unit']:8} {n:5}")
            walls[mode] = result["metrics"]["trace.wall_s" if mode else "wall_s"]["value"]
            if mode == 0 and summary["op_p90_s"]:
                p90, n = summary["op_p90_s"]
                print(f"{name:14} {mode:5} {'op_p90_s':32} {p90:12.4f} {'s':8} {n:5}")
            rss = summary["peak_rss_mb"]["total"]
            print(f"{name:14} {mode:5} {'peak_rss_mb':32} {rss:12.1f} {'MB':8} {1:5}")
            print(
                f"{name:14} {mode:5} {'error_rate':32} {summary['error_rate']:12.4f} "
                f"{'ratio':8} {result['attempted']:5}  correct={result['correct']}"
            )
            for op, problem in summary["errors"].items():
                print(f"    {op}: {problem}")
            want = {m["name"] for m in bench["per_layer" if mode else "end_to_end"]}
            if set(result["metrics"]) != want:
                print(f"    metric names differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ want)}")
                ok = False
            ok = ok and result["correct"]
        if len(walls) == 2:
            overhead = walls[1] - walls[0]
            print(f"{name:14} {1:5} {'trace.overhead_s':32} {overhead:12.4f} {'s':8} {2:5}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all" or args.smoke and not args.workload:
        return run_many(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
