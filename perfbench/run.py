"""Pipeline-first benchmark of the engine.

    python3 perfbench/run.py --workload daily_catchup --seed 1 --seconds 12 --trace 0

Run from the repository root. One process drives the program on
``local[<cpus>]`` through its public entry points: the workload's inputs
are generated from ``--seed``, a warm-up is run and excluded, operations
are timed closed-loop for ``--seconds``, and the outputs are checked
afterwards. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench-work/`` in the
repository; a JSON record of each run (and, traced, its spans) is kept in
``.perfbench-work/runs/``.

``--trace 1`` turns the Spark event log on, then interleaves untraced and
traced operations; per-layer numbers come from the traced ones, and
``trace.overhead_s`` is the difference between the two kinds' mean
latency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str) -> dict[str, str]:
    """Settings the benchmark gives the program: the core count, and
    scratch directories inside the work tree."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
    }


def _vm_rss_mb(pid: int | str, key: str = "VmRSS:") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _memory(spark, jvm_pid) -> dict:
    """Driver memory after the timed operations. The peak RSS (VmHWM) of
    the JVM swings with how far the collector chose to grow the heap, so
    the metric is the memory the driver retains: JVM heap in use after a
    full collection, JVM non-heap in use, and the Python process's RSS."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    hwm = {"jvm_hwm_mb": _vm_rss_mb(jvm_pid, "VmHWM:"), "py_hwm_mb": _vm_rss_mb("self", "VmHWM:")}
    heap = float("inf")
    for _ in range(3):  # a background thread can allocate during a collection
        jvm.java.lang.System.gc()
        heap = min(heap, bean.getHeapMemoryUsage().getUsed() / 2**20)
    nonheap = bean.getNonHeapMemoryUsage().getUsed() / 2**20
    py = _vm_rss_mb("self")
    return {**hwm, "heap_live_mb": heap, "nonheap_mb": nonheap, "py_rss_mb": py,
            "retained_mb": heap + nonheap + py}


def timed_setup(extra_conf: dict | None = None):
    """Cold set-up, timed: import the engine, start its Spark session (a
    fresh JVM) and import the query registry."""
    t0 = time.perf_counter()
    from bc_proj3_spark.session import get_spark

    spark = get_spark(extra_conf=extra_conf)
    t1 = time.perf_counter()
    from bc_proj3_spark import registry

    registry.all_queries()
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "registry.import_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)


def _timed_loop(wl, seconds: float, trace_mode: bool, tracer) -> list:
    """Closed loop: run operations until ``seconds`` have passed and at
    least ``wl.min_ops`` were timed.

    Traced runs order operations untraced, traced, traced, untraced (and
    repeat, stopping after whole groups of four), so a steady drift in
    operation latency — warm-up, or history growing day by day — cancels
    out of the traced-minus-untraced overhead."""
    ops = []
    t_end = time.perf_counter() + seconds
    while True:
        if trace_mode and len(ops) % 4 in (1, 2):
            tracer.install()
            try:
                ops.append(wl.op(tracer))
            finally:
                tracer.uninstall()
        else:
            ops.append(wl.op(None))
        enough = len(ops) % 4 == 0 if trace_mode else len(ops) >= wl.min_ops
        if enough and time.perf_counter() >= t_end:
            return ops


def end_to_end(wl, ops, setup_s, retained_mb, failed, attempted) -> dict:
    """End-to-end metrics over the untraced timed operations."""
    return {
        "setup_s": setup_s,
        **wl.latency_metrics(ops),
        "ok_ratio": 1.0 - failed / attempted,
        "space_amp": wl.space_amp,
        "retained_mb": retained_mb,
    }


def per_layer(wl, ops, tracer, engine, groups, setup) -> dict:
    """Per-layer metrics of the traced operations: self times and counts
    as means per operation, ratios over the traced operations' totals."""
    traced = [o for o in ops if o.traced]
    plain = [o for o in ops if not o.traced]
    n = len(traced)
    st = tracer.self_times()
    c = tracer.counts
    wc = getattr(wl, "counts", {})
    new_rows = sum(o.new_rows for o in traced)

    def per_op(x):
        return x / n

    def ratio(a, b):
        return a / b if b else 0.0

    def group(names, key):
        return per_op(sum(groups.get(g, {}).get(key, 0) for g in names))

    m = {
        "session.start_s": setup["session.start_s"],
        "registry.import_s": setup["registry.import_s"],
        "landing.select_s": per_op(st.get("landing.select", 0.0)),
        "bronze.s": per_op(st.get("bronze", 0.0)),
        "bronze.jobs": group(["bronze"], "jobs"),
        "bronze.task_cpu_s": group(["bronze"], "task_cpu_s"),
        "silver.s": per_op(st.get("silver", 0.0)),
        "silver.jobs": group(["silver"], "jobs"),
        "silver.task_cpu_s": group(["silver"], "task_cpu_s"),
        "silver.useful_ratio": ratio(wc.get("silver_useful", 0), wc.get("silver_rows_read", 0)),
        "incremental.merge_s": per_op(st.get("incremental.merge", 0.0)),
        "incremental.dedup_s": per_op(st.get("incremental.dedup", 0.0)),
        "incremental.watermark_s": per_op(st.get("incremental.watermark", 0.0)),
        "catalog.rows_written": per_op(c.get("catalog.rows_written", 0)),
        "catalog.bytes_written": per_op(c.get("catalog.bytes_written", 0)),
        "catalog.files_written": per_op(c.get("catalog.files_written", 0)),
        "catalog.write_amp": ratio(c.get("catalog.rows_written", 0), new_rows),
        "gold.words_s": per_op(st.get("gold.words", 0.0)),
        "gold.scoring_s": per_op(st.get("gold.scoring", 0.0)),
        "gold.jobs": group(["gold.words", "gold.scoring"], "jobs"),
        "gold.task_cpu_s": group(["gold.words", "gold.scoring"], "task_cpu_s"),
        "gold.rescored_ratio": ratio(wc.get("gold_rows_scored", 0), new_rows),
    }
    for verb in ("overwrite", "overwrite_partitions", "append", "read"):
        m[f"catalog.{verb}_s"] = per_op(st.get(f"catalog.{verb}", 0.0))
    for mod in QUERY_MODULES:
        m[f"{mod}.build_s"] = per_op(st.get(f"{mod}.build", 0.0))
        m[f"{mod}.sink_s"] = per_op(st.get(f"{mod}.sink", 0.0))
        m[f"{mod}.jobs"] = group([f"{mod}.build", f"{mod}.sink"], "jobs")
    for k in ("spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.sched_wait_s",
              "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_s", "spark.failed_tasks"):
        m[k] = per_op(engine.get(k, 0))
    m["trace.overhead_s"] = (sum(o.latency for o in traced) / n
                             - sum(o.latency for o in plain) / len(plain))
    return m


QUERY_MODULES = ("plans.tpch", "plans.events", "operators.ranking", "operators.dedup",
                 "operators.similarity", "streaming.incremental")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bc_proj3_spark")):
        print("perfbench: the engine package bc_proj3_spark is not in this tree", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, run_id)
    env = _env(work)
    os.environ.update(env)
    try:
        record = _run(args, run_id, work, base, workloads, wanted)
        record["env"] = env
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    with open(os.path.join(base, "runs", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record["result"]))
    return 0


def _run(args, run_id, work, base, workloads, wanted) -> dict:
    extra = None
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{eventlog}",
                 "spark.eventLog.compress": "false"}
    spark, setup = timed_setup(extra)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    from spans import Tracer, engine_metrics

    tracer = Tracer(spark, run_id)
    try:
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        prepare_s = time.perf_counter() - t0
        warm = wl.warmup()
        ops = _timed_loop(wl, args.seconds, bool(args.trace), tracer)
        mem = _memory(spark, jvm_pid)
        t1 = time.perf_counter()
        checks = wl.checks()
        checks_s = time.perf_counter() - t1
    finally:
        shutdown(spark)
    failed_ops = [o.error for o in warm + ops if o.error]
    failed = len(failed_ops) + sum(1 for _, ok, _ in checks if not ok)
    attempted = len(warm) + len(ops) + len(checks)
    if args.workload == "query_mix":  # every query run is an operation
        q = len(workloads.QUERY_MIX)
        attempted += (q - 1) * (len(warm) + len(ops))
    plain = [o for o in ops if not o.traced]
    if args.trace:
        engine, groups = engine_metrics(eventlog, run_id)
        metrics = per_layer(wl, ops, tracer, engine, groups, setup)
        tracer.dump(os.path.join(base, "runs", f"{run_id}.trace.json"),
                    {"engine": engine, "groups": groups, "metrics": metrics})
    else:
        metrics = end_to_end(wl, plain, setup["session.start_s"] + setup["registry.import_s"],
                             mem["retained_mb"], failed, attempted)
    if sorted(metrics) != sorted(wanted):
        raise SystemExit(f"perfbench: metric set differs from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(wanted))}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in wanted.items()},
    }
    return {
        "result": result,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "setup": setup, "prepare_s": prepare_s, "checks_s": checks_s,
        "warmup_latencies_s": [o.latency for o in warm],
        "latencies_s": [o.latency for o in ops],
        "traced": [o.traced for o in ops],
        "parts": [o.parts for o in ops],
        "errors": failed_ops,
        "checks": checks,
        "inputs": wl.input_stats(),
        "memory": mem,
    }


if __name__ == "__main__":
    sys.exit(main())
