"""Benchmark entry point.

    python3 perfbench/run.py --workload {index_build,near_dup} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, starts one local Spark session (task slots: half the cores, at
most 4 cores), sets up five times, warms up, then runs operations for
``--seconds`` and checks each one's output. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See README.md in this directory for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUPS = 5
# task slots: half the cores (at most four in all), so the JIT compiler, the
# GC and the Python driver run beside the tasks rather than between them
CORES = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
LAYERS = (
    "sources.text",
    "functions",
    "operators.index",
    "sinks",
    "operators.dedup",
    "operators.components",
    "operators.similarity",
)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _session(work: str):
    from mapreduce_paradigm_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        # a deployment setting: two shuffle partitions per task slot
        shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job/stage of a run for attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _first_job(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _measure(wl, tracer, seconds: float, traced: bool, start_i: int, min_ops: int) -> list:
    ops, i = [], start_i
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(ops) < min_ops:
        ops.append(wl.run_op(tracer, i, traced))
        i += 1
        wl.between_ops()
    return ops


def _op_stats(ops, counters) -> dict:
    """End-to-end figures: medians over the operations that passed their
    check."""
    good = [o for o in ops if not o.problems]
    if not good:
        return {"job_s": float("nan"), "docs_per_s": 0.0, "cpu_ms_per_doc": 0.0}
    job_s = statistics.median(o.wall for o in good)
    return {
        "job_s": job_s,
        "docs_per_s": statistics.median(o.docs for o in good) / job_s,
        "cpu_ms_per_doc": statistics.median(counters.sums(o.root.group).cpu_ms / o.docs for o in good),
    }


def _layer_metrics(tracer, counters, traced_ops, plain_ops, extra) -> dict:
    """Per-layer metrics from the traced operations: for each layer, the
    median over the operations that called it."""
    per_layer: dict[str, list[dict]] = {name: [] for name in LAYERS}
    for op in traced_ops:
        if op.root is None:
            continue
        kids = [s for s in tracer.spans if s.parent == op.root.span_id]
        for name in LAYERS:
            spans = [s for s in kids if s.name == name]
            if not spans:
                continue
            sums = counters.sums(*(s.group for s in spans))
            wall = sum(s.wall for s in spans)
            counts: dict[str, float] = {}
            for s in spans:
                for k, v in s.counts.items():
                    counts[k] = counts.get(k, 0) + v
            per_layer[name].append(
                {
                    "self_s": sum(tracer.self_time(s) for s in spans),
                    "driver_s": sum(counters.idle(s.start, s.end) for s in spans),
                    "jobs": sums.jobs,
                    "tasks": sums.tasks,
                    "input_mb": sums.input_bytes / 1e6,
                    "shuffle_write_mb": sums.shuffle_write_bytes / 1e6,
                    "spill_mb": sums.spill_bytes / 1e6,
                    "busy_ratio": sums.run_ms / 1e3 / (wall * CORES) if wall else 0.0,
                    **counts,
                }
            )

    def med(layer: str, key: str) -> float:
        vals = [r.get(key, 0.0) for r in per_layer[layer]]
        return float(statistics.median(vals)) if vals else 0.0

    m = {
        "sources.text.self_s": med("sources.text", "self_s"),
        "sources.text.input_mb": med("sources.text", "input_mb"),
        "sources.text.tasks": med("sources.text", "tasks"),
        "functions.self_s": med("functions", "self_s"),
        "functions.rows_out": med("functions", "rows_out"),
        "operators.index.self_s": med("operators.index", "self_s"),
        "operators.index.shuffle_write_mb": med("operators.index", "shuffle_write_mb"),
        "operators.index.spill_mb": med("operators.index", "spill_mb"),
        "operators.index.rows_out": med("operators.index", "rows_out"),
        "operators.index.busy_ratio": med("operators.index", "busy_ratio"),
        "sinks.self_s": med("sinks", "self_s"),
        "sinks.output_mb": med("sinks", "output_bytes") / 1e6,
        "sinks.files": med("sinks", "files"),
        "operators.dedup.self_s": med("operators.dedup", "self_s"),
        "operators.dedup.shuffle_write_mb": med("operators.dedup", "shuffle_write_mb"),
        "operators.dedup.spill_mb": med("operators.dedup", "spill_mb"),
        "operators.dedup.candidate_pairs": float(extra.get("candidate_pairs", 0)),
        "operators.dedup.verified_pairs": med("operators.dedup", "verified_pairs"),
        "operators.dedup.busy_ratio": med("operators.dedup", "busy_ratio"),
        "operators.components.self_s": med("operators.components", "self_s"),
        "operators.components.jobs": med("operators.components", "jobs"),
        "operators.components.driver_s": med("operators.components", "driver_s"),
        "operators.similarity.self_ms": med("operators.similarity", "self_s") * 1e3,
        "operators.similarity.driver_ms": med("operators.similarity", "driver_s") * 1e3,
        "operators.similarity.jobs": med("operators.similarity", "jobs"),
    }
    cand = m["operators.dedup.candidate_pairs"]
    m["operators.dedup.useful_ratio"] = m["operators.dedup.verified_pairs"] / cand if cand else 0.0
    gcs = [
        sum(counters.sums(s.group).gc_ms for s in tracer.spans if s is o.root or s.parent == o.root.span_id)
        for o in traced_ops
        if o.root is not None
    ]
    m["spark.gc_s"] = statistics.median(gcs) / 1e3 if gcs else 0.0
    m["spark.failed_tasks"] = float(sum(s.failed_tasks for s in counters.by_group.values()))
    m["session.self_s"] = extra["session_s"]
    plain = [o.wall for o in plain_ops if not o.problems]
    traced = [o.wall for o in traced_ops if not o.problems]
    m["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain) if plain and traced else 0.0
    )
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mapreduce_paradigm_spark", "__init__.py")):
        print(f"perfbench: no mapreduce_paradigm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH_DIR, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "input"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    # Spark's python workers import the engine too (mapInPandas in top-k)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    spark = None
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](work, args.seed)
        print(f"perfbench: inputs generated in {time.perf_counter() - t:.1f} s", file=sys.stderr)

        setups, session_s = [], 0.0
        for r in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session(work)
            if r == 0:
                session_s = time.perf_counter() - t0
            _first_job(spark)
            wl.load(spark)
            setups.append(time.perf_counter() - t0)

        from spans import StageCounters, Tracer

        run_id = uuid.uuid4().hex[:8]
        tracer = Tracer(spark, run_id, enabled=False)
        t_warm = time.perf_counter()
        warm = wl.warm_up(tracer)
        tracer.spans.clear()
        t_window = time.perf_counter()
        print(f"perfbench: warm-up took {t_window - t_warm:.1f} s: {[round(w, 3) for w in warm]}", file=sys.stderr)

        if args.trace:
            # each half of a traced run needs only half the operations
            half = max(2, wl.min_ops // 2)
            plain = _measure(wl, tracer, args.seconds / 2, False, 0, half)
            tracer.enabled = True
            traced = _measure(wl, tracer, args.seconds / 2, True, len(plain), half)
            ops = plain + traced
        else:
            ops = _measure(wl, tracer, args.seconds, False, 0, wl.min_ops)
        print(f"perfbench: measured window took {time.perf_counter() - t_window:.1f} s", file=sys.stderr)
        counters = StageCounters(spark)
        failed = sum(1 for o in ops if o.problems)
        for o in ops:
            if o.problems:
                print(f"perfbench: {o.kind} failed: {o.problems}", file=sys.stderr)

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        stats = _op_stats(plain if args.trace else ops, counters)
        if args.trace:
            extra = {"session_s": session_s}
            if args.workload == "near_dup":
                extra["candidate_pairs"] = wl.candidate_pairs()
            values = _layer_metrics(tracer, counters, traced, plain, extra)
            trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path, {"per_layer": values, "end_to_end_untraced": stats})
            print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
        else:
            values = {
                "setup_s": statistics.median(setups),
                **stats,
                "peak_rss_mb": rss,
            }
        units = _units()
        n_ok = len(ops) - failed
        print(
            f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} ok={n_ok} "
            f"error_rate={failed / len(ops):.4f} setups={[round(s, 3) for s in setups]} "
            f"walls={[round(o.wall, 3) for o in ops]}",
            file=sys.stderr,
        )
        for k, v in values.items():
            print(f"perfbench:   {k} = {v:.6g} {units[k]}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
                }
            )
        )
        return 0
    finally:
        t = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stopped in {time.perf_counter() - t:.1f} s", file=sys.stderr)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
