#!/usr/bin/env python3
"""Layered benchmark for the financial pipeline engine.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

One process, one SparkSession from the package's ``session.get_spark`` at
``local[<cores>]``, one client in a closed loop.  With ``--trace 0`` the last
stdout line is a JSON object with the end-to-end metrics; with ``--trace 1``
the same line carries the per-layer metrics from the spans.  The full record
(host context, per-operation latencies, mismatches, spans) is written under
``.perfbench/records/``.  Exit code 0 means the run completed, whatever the
correctness verdict; any other code means no result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multi_source_financial_data_pipeline_spark"
WORKLOADS = ("queries", "pipeline_requests")
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"
#: task slots: operations are job-bound (four slots were busy a tenth of
#: the time), so two slots cost no latency and leave the shared host's
#: other cores alone (see README.md)
SPARK_CORES = 2
#: C1-only with one compiler thread and two GC threads: background JVM
#: threads compete with the run for the whole short life of the JVM.  The
#: heap is touched at start, on transparent huge pages where the kernel
#: allows them (see README.md); no perf-data file under /tmp
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 -XX:ParallelGCThreads=2"
    " -XX:ConcGCThreads=1 -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages"
    " -XX:-UsePerfData"
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def cores() -> int:
    return min(SPARK_CORES, nproc())


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def jvm_peak_rss_kb(proc) -> int:
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, AttributeError):
        pass
    return 0


def start_session(run_dir: str):
    from multi_source_financial_data_pipeline_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTIONS} -Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, tracer, rng, seconds: float, trace: bool, seed: int):
    """The closed loop: one operation at a time, whole passes, until
    ``seconds`` have passed.  With tracing, passes alternate between
    untraced and traced, and the loop runs until it has both kinds."""
    ops, skip_windows = [], []
    start = time.perf_counter()
    for n, batch in enumerate(wl.passes(rng)):
        traced = trace and (n + seed) % 2 == 1
        for label, call in batch:
            tracer.enabled, tracer.op = traced, len(ops)
            wall0 = time.time()
            root = tracer.open("op")
            t0 = time.perf_counter()
            error, out = None, None
            try:
                out = call()
            except Exception as exc:  # a failed operation is counted, not fatal
                error = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            tracer.close(root)
            tracer.enabled = False
            if trace and not traced:
                skip_windows.append((wall0, time.time()))
            ops.append({"label": label, "s": dt, "traced": traced, "error": error, "out": out})
        kinds = {op["traced"] for op in ops}
        if time.perf_counter() - start >= seconds and (not trace or len(kinds) == 2):
            break
    return ops, time.perf_counter() - start, skip_windows


def run(args, run_dir: str) -> dict:
    import layers
    import spans
    import summary
    import workloads

    host = {
        "nproc": nproc(),
        "loadavg_before": os.getloadavg(),
        "python": platform.python_version(),
        "seed": args.seed,
        "git_commit": git_commit(),
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
    }
    if args.workload == "queries":
        tables = workloads.ensure_tables(ROOT)  # once per checkout, untimed

    t0 = time.perf_counter()
    spark = start_session(run_dir)
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        host.update(
            spark=spark.version,
            java=sc._jvm.java.lang.System.getProperty("java.version"),
            master=sc.master,
        )
        tracer = spans.Tracer(sc, enabled=False)
        if args.workload == "queries":
            wl = workloads.QueryWorkload(spark, tracer, tables)
        else:
            wl = workloads.PipelineWorkload(spark, tracer, run_dir, args.seed)
            wl.generate()  # untimed: the universe is input, not set-up
        if args.trace:
            wl.instrument()

        t1 = time.perf_counter()
        warm = wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        if args.workload == "pipeline_requests":
            wl.offered = wl.saved = 0  # count measured requests only
            bytes_before = wl.bytes_on_disk()

        jobs_before, _ = spans.read_status_store(sc) if args.trace else ([], {})
        first_job = max((j["jobId"] for j in jobs_before), default=-1) + 1
        rng = random.Random(args.seed)
        ops, elapsed, skip_windows = measure(
            wl, tracer, rng, args.seconds, bool(args.trace), args.seed
        )
        jobs, stages = spans.read_status_store(sc) if args.trace else ([], {})
        if args.workload == "queries":
            mismatches = wl.check()
            for op in ops:
                op["correct"] = op["error"] is None and op["label"] not in mismatches
        else:
            for op in ops:
                op["correct"] = op["error"] is None and wl.check(*op["out"], op["label"])
            mismatches = dict(wl.mismatches)
            bytes_written = (wl.bytes_on_disk() - bytes_before) / len(ops)
        for op in ops:
            del op["out"]
        jvm_kb = jvm_peak_rss_kb(getattr(sc._gateway, "proc", None))
    finally:
        stop_session(spark)

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    host["loadavg_after"] = os.getloadavg()
    errors = {op["label"]: op["error"] for op in ops if op["error"]}
    failed = sum(1 for op in ops if not op["correct"])
    untraced = [op["s"] for op in ops if not op["traced"]]
    traced = [op["s"] for op in ops if op["traced"]]
    lat = untraced if untraced else traced
    tail = summary.tail(lat)
    end_to_end = {
        "setup_s": setup_s,
        "op_p50_s": summary.median(lat),
        "op_tail_s": tail["value"],
        "ops_per_s": len(ops) / elapsed,
        "peak_rss_mb": (py_kb + jvm_kb) / 1024.0,
    }
    record = {
        "host": host,
        "end_to_end": end_to_end,
        "error_rate": failed / len(ops),
        "attempted": len(ops),
        "failed": failed,
        "mismatches": mismatches,
        "errors": errors,
        "samples": {
            "setup_s": 1,
            "op_p50_s": len(lat),
            "op_tail_s": len(lat),
            "ops_per_s": len(ops),
            "peak_rss_mb": 1,
        },
        "op_tail": tail,
        "session_start_s": session_s,
        "setup_ops_s": warm,
        "measured_s": elapsed,
        "ops": ops,
    }

    if args.trace:
        orphans = tracer.attribute(jobs, stages, first_job, skip_windows)
        labels = {i: op["label"] for i, op in enumerate(ops)}
        trees = layers.op_trees(tracer.spans, labels)
        per_layer = layers.compute(
            trees, workloads.QUERY_MIX, workloads.STREAM_QUERIES, cores()
        )
        per_layer["session.start_s"] = session_s
        per_layer["trace.orphan_jobs"] = len(orphans)
        base = summary.median(untraced) if untraced else 0.0
        over = summary.median(traced) - base if traced and untraced else 0.0
        per_layer["trace.overhead_s"] = over
        per_layer["trace.overhead_share"] = over / base if base else 0.0
        if args.workload == "pipeline_requests":
            per_layer["sinks.rows_saved_ratio"] = wl.saved / wl.offered if wl.offered else 0.0
            per_layer["sinks.bytes_written"] = bytes_written
        else:
            per_layer["sinks.rows_saved_ratio"] = 0.0
            per_layer["sinks.bytes_written"] = 0.0
        units = layers.metric_names(workloads.QUERY_MIX)
        record["per_layer"] = per_layer
        record["trace_samples"] = {"traced_ops": len(traced), "untraced_ops": len(untraced)}
        record["orphan_jobs"] = orphans
        record["spans"] = [vars(s) for s in tracer.spans]
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}

    record["result"] = {
        "correct": failed == 0 and not mismatches,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fresh TMPDIR per run roots the engine's persisted index cache, so
    # every run pays its artifact builds in set-up
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(
        records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    tail = record["op_tail"]
    print(
        f"perfbench {args.workload}: error_rate={record['error_rate']:.4f} "
        f"mismatches={sorted(record['mismatches'])} op_tail=p{tail['percentile']:g} "
        f"(n={tail['samples']}, beyond={tail['beyond']}) "
        f"nproc={record['host']['nproc']} load={record['host']['loadavg_before'][0]:.2f}"
        f"->{record['host']['loadavg_after'][0]:.2f} record={os.path.relpath(path, ROOT)}"
    )
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
