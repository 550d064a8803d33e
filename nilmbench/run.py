#!/usr/bin/env python3
"""Benchmark of the NILM Spark framework: two seeded workloads against
the package's public functions, outputs checked against independent
oracles outside the timed window.

    python3 nilmbench/run.py --workload nilm_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around every call
into the program and prints the per-layer metrics (see METRICS.md). The
last line of stdout is one JSON object: correct, attempted, failed,
metrics. Inputs, stores and Spark's scratch space live under
``.nilmbench_work/`` in the current directory; span logs stay in
``.nilmbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from gen import tree_bytes

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "req_ms": "ms",
    "stored_bytes_ratio": "ratio",
    "driver_mem_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "build_s": "s",
    "build_jobs": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver_only_s": "s",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_failures": "count",
    "stage_retries": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "tensorize.exec_s": "s",
    "index.write_s": "s",
    "index.files_written": "count",
    "index.bytes_written": "bytes",
    "probe.build_ms": "ms",
    "probe.exec_ms": "ms",
    "probe.files_read": "count",
    "probe.prune_ratio": "ratio",
    "trace.overhead_s": "s",
}
SOURCE_LAYERS = ("sources.canonical",)
INDEX_LAYERS = ("operators.text", "operators.similarity")
# with passes longer than --seconds / MIN_PASSES every run measures the
# same number of passes
MIN_PASSES = 3
GC_ROUNDS = 20
# per-layer metrics that also count the median set-up round; every other
# per-layer metric covers one pass
SETUP_LAYER_METRICS = (
    "sources.write_s", "sources.files_written", "sources.bytes_written",
    "index.write_s", "index.files_written", "index.bytes_written",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def kind_latency_ms(ops: list[dict], rounds: set[str]) -> dict[str, float]:
    """Median latency of each kind of operation over the given rounds."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        if op["round"] in rounds:
            by_kind.setdefault(op["name"], []).append(op["wall_s"] * 1e3)
    return {k: statistics.median(v) for k, v in sorted(by_kind.items())}


def cpu_calibration_s() -> float:
    """Time of a fixed pure-Python loop: a yardstick of the host's speed at
    the time of the run, recorded with the provenance."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def vm_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def reset_vm_hwm() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds once nothing more can be freed: the
    live data the program keeps (caches, plans, status), free of the
    heap-sizing policy that drives the JVM's RSS. One full collection is not
    enough: it hands unreferenced frames, broadcasts and shuffles to Spark's
    context cleaner and finalizable objects to their finalizers, which free
    more for a later one; collect every half second until three collections
    in a row free under 1 MB each (two in a row could pass while the cleaner
    was still busy on a loaded host)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()  # drops Python-side handles on JVM objects that sit in cycles
    used, quiet = float("inf"), 0
    for _ in range(GC_ROUNDS):
        mx.gc()
        prev, used = used, mx.getHeapMemoryUsage().getUsed() / 2**20
        quiet = quiet + 1 if prev - used < 1.0 else 0
        if quiet == 3:
            break
        time.sleep(0.5)
    return used


def provenance(root: str, args, inputs: dict) -> dict:
    import duckdb
    import pandas
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    digest = hashlib.sha256()
    pkg = os.path.join(root, "nilm_data_framework_spark")
    for dirpath, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    digest.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "program_sha256": digest.hexdigest(),
        "cpu_calibration_s": [cpu_calibration_s()],
        "inputs": inputs,
    }


def start_session(work: str, trace: bool):
    from nilm_data_framework_spark.session import get_session

    conf = {"spark.local.dir": f"{work}/spark"}
    if trace:
        # keep every job and stage of a run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_session(app_name="nilmbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def round_sums(spans: list[dict], round_: str, index_files: dict[str, int]) -> dict:
    """Per-layer sums for one round. Every op's span tree is summed; the
    build/exec split, write jobs and probe numbers come from its child
    spans."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["_probe_index_files"] = 0
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["round"] != round_:
            continue
        c = s["counts"]
        op = s if s["kind"] == "op" else by_id[s["parent"]]
        dur = s["end"] - s["start"]
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "task_failures", "stage_retries"):
            out[k] += c[k]
        layer = op["layer"]
        if s["kind"] == "op":
            out["driver_only_s"] += dur
            out["_probe_index_files"] += index_files.get(s["name"], 0)
            for ph, ms in s["plan_ms"].items():
                out[f"plan.{ph}_ms"] += ms
        else:
            out["driver_only_s"] -= c["job_cover_s"]
        if s["kind"] == "build":
            out["build_s"] += dur
            out["build_jobs"] += c["jobs"]
        if layer in SOURCE_LAYERS:
            out["sources.write_s"] += c["write_job_s"]
            out["sources.files_written"] += c["files_written"]
            out["sources.bytes_written"] += c["output_bytes"]
        if layer in INDEX_LAYERS:
            out["index.write_s"] += c["write_job_s"]
            out["index.files_written"] += c["files_written"]
            out["index.bytes_written"] += c["output_bytes"]
        if layer == "operators.tensorize" and s["kind"] == "exec":
            out["tensorize.exec_s"] += dur
        if layer == "probe" and s["kind"] in ("build", "exec"):
            out[f"probe.{s['kind']}_ms"] += dur * 1e3
            out["probe.files_read"] += c["files_read"]
    return out


def op_table(spans: list[dict], rounds: set[str]) -> dict[str, dict]:
    """Per op (median over the traced passes), in ms: wall = build + exec +
    span bookkeeping, and wall = time covered by its Spark jobs + driver-only
    time (Python, planning, dispatch: the named gap)."""
    rows: dict[str, list[dict]] = {}
    by_parent: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], {})[s["kind"]] = s
    for s in spans:
        if s["kind"] != "op" or s["round"] not in rounds:
            continue
        kids = by_parent.get(s["id"], {})
        dur = {k: (c["end"] - c["start"]) * 1e3 for k, c in kids.items()}
        wall = (s["end"] - s["start"]) * 1e3
        cover = sum(c["counts"]["job_cover_s"] for c in kids.values()) * 1e3
        rows.setdefault(s["name"], []).append({
            "wall_ms": wall,
            "build_ms": dur.get("build", 0.0),
            "exec_ms": dur.get("exec", 0.0),
            "bookkeeping_ms": wall - sum(dur.values()),
            "spark_jobs_ms": cover,
            "driver_only_ms": wall - cover,
            "plan_ms": sum(s["plan_ms"].values()),
            "jobs": sum(c["counts"]["jobs"] for c in kids.values()),
        })
    return {
        name: {k: statistics.median(r[k] for r in rs) for k in rs[0]} for name, rs in sorted(rows.items())
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import nilm_data_framework_spark.session  # noqa: F401
    except ImportError as e:
        print(f"nilmbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"nilmbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(root, ".nilmbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark", "raw"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    # everything the program and Spark write goes under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # work dir and no perf-data file, which the JVM would put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    tempfile.tempdir = None
    # Spark's task threads get half the cores, so the JIT compilers, the GC
    # and the Python workers run beside them instead of queueing for a core
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    try:
        ctx = Ctx(work, args.seed)
        wl.generate(ctx)
        gen_s = time.perf_counter() - t
        files, nbytes = tree_bytes(ctx.raw)
        ctx.input_bytes = nbytes
        inputs = {"files": files, "bytes": nbytes, "generate_s": round(gen_s, 3), **wl.sizes()}
        prov = provenance(root, args, inputs)

        t = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t
        try:
            result, trace_doc = measure(spark, wl, ctx, args, session_s)
            prov["cpu_calibration_s"].append(cpu_calibration_s())
            trace_doc["provenance"] = prov
            with open(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
                json.dump(trace_doc, f)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"provenance": prov}))
    for name, row in trace_doc.get("op_table", {}).items():
        print(f"  op {name:16s} " + " ".join(f"{k}={v:.1f}" for k, v in row.items()))
    for name, ms in trace_doc["kind_ms"].items():
        print(f"  latency {name:16s} {ms:>10.1f} ms (median)")
    for name, m in result["metrics"].items():
        print(f"  {name:24s} {m['value']:>16.6g} {m['unit']}")
    print(f"  error_rate {result['failed']}/{result['attempted']}")
    print(json.dumps(result))
    return 0


def measure(spark, wl, ctx, args, session_s):
    """Set up, warm up, run the measured window, then (untimed) check every
    output and turn the spans into metrics."""
    from spans import Tracer, attach_spark_counts

    tracer = Tracer(spark, bool(args.trace))
    ctx.spark, ctx.tracer = spark, tracer
    phases = {"session_s": session_s}
    checked = []  # (round, output) pairs the oracle verifies

    setup_times = []
    for k in range(wl.SETUP_ROUNDS):
        t = time.perf_counter()
        out = wl.setup(ctx, f"setup-{k}")
        setup_times.append(time.perf_counter() - t)
        if out is not None:
            checked.append((f"setup-{k}", out))
    t = time.perf_counter()
    # passes that pay most of the JIT's first-use cost; the median over the
    # measured passes absorbs the rest
    for i in range(wl.WARMUP_PASSES):
        wl.run_pass(ctx, f"warmup-{i}")
    phases["warmup_s"] = time.perf_counter() - t

    # the measured window: at least --seconds and at least MIN_PASSES
    # passes; with --trace 1 every other pass is traced, so the untraced
    # passes in between give the tracing overhead
    passes: list[tuple[str, float, bool]] = []
    reset_vm_hwm()
    t_end = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and len(passes) % 2 == 1
        tracer.enabled = traced
        rnd = f"pass-{len(passes)}"
        t = time.perf_counter()
        out = wl.run_pass(ctx, rnd)
        passes.append((rnd, time.perf_counter() - t, traced))
        checked.append((rnd, out))
        if time.perf_counter() >= t_end and len(passes) >= MIN_PASSES + args.trace:
            break
    tracer.enabled = bool(args.trace)
    mem = {"python_hwm_mb": vm_hwm_mb(), "jvm_retained_mb": retained_heap_mb(spark)}

    # ---- everything below is outside the timed window ----
    t = time.perf_counter()
    answers = wl.answers(ctx)
    failed = 0
    for rnd, out in checked:
        bad = wl.check(answers, out)
        failed += len(bad)
        if bad:
            print(f"nilmbench: {rnd} wrong or failed: {bad}", file=sys.stderr)
    rounds = {rnd for rnd, _ in checked}
    attempted = sum(op["round"] in rounds for op in ctx.ops)
    stored = statistics.median(
        sum(tree_bytes(p)[1] for p in out["stored"]) for _, out in checked if "stored" in out
    )
    phases["check_s"] = time.perf_counter() - t

    run_times = [dt for _, dt, traced in passes if not traced]
    untraced = {rnd for rnd, _, traced in passes if not traced}
    kind_ms = kind_latency_ms(ctx.ops, untraced)
    e2e = {
        "setup_s": session_s + statistics.median(setup_times) + phases["warmup_s"],
        "run_s": statistics.median(run_times),
        "req_ms": math.exp(statistics.fmean(math.log(v) for v in kind_ms.values())),
        "stored_bytes_ratio": stored / ctx.input_bytes,
        "driver_mem_mb": mem["python_hwm_mb"] + mem["jvm_retained_mb"],
    }
    layer, op_rows = {}, {}
    if args.trace:
        t = time.perf_counter()
        attach_spark_counts(spark, tracer.spans)
        index_files = wl.index_files()
        per_pass = [round_sums(tracer.spans, rnd, index_files) for rnd, _, traced in passes if traced]
        per_setup = [round_sums(tracer.spans, f"setup-{k}", index_files) for k in range(wl.SETUP_ROUNDS)]
        for name in PER_LAYER:
            v = statistics.median(r[name] for r in per_pass)
            if name in SETUP_LAYER_METRICS:
                v += statistics.median(r[name] for r in per_setup)
            layer[name] = v
        idx_files = statistics.median(r["_probe_index_files"] for r in per_pass)
        layer["probe.prune_ratio"] = layer["probe.files_read"] / idx_files if idx_files else 0.0
        layer["session.start_s"] = session_s
        layer["trace.overhead_s"] = statistics.median(
            dt for _, dt, traced in passes if traced
        ) - statistics.median(run_times)
        phases["attach_s"] = time.perf_counter() - t
        op_rows = op_table(tracer.spans, {rnd for rnd, _, traced in passes if traced})
    metrics_src, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics_src[k]), "unit": units[k]} for k in units},
    }
    trace_doc = {
        "end_to_end": e2e,
        "per_layer": layer,
        "op_table": op_rows,
        "memory": mem, "kind_ms": kind_ms,
        "samples": {
            "passes": len(passes),
            "timed_ops": sum(op["round"] in untraced for op in ctx.ops),
            "setup_rounds_s": setup_times,
            **phases,
        },
        "ops": ctx.ops,
        "spans": tracer.spans,
    }
    return result, trace_doc


if __name__ == "__main__":
    sys.exit(main())
