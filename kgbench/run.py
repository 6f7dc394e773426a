#!/usr/bin/env python3
"""spark-kg benchmark: one run of one workload.

    python3 kgbench/run.py --workload {extract,neardup} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run starts a host-sized local Spark
session, writes the seeded input tables and makes one untimed warm-up
operation (set-up), repeats the workload's operation for ``--seconds``
(at least twice), checks every operation's output and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes one
untraced and one traced operation and reports the per-layer metrics,
writing the spans as JSONL under ``.kgbench_out/``. Everything the run
writes lives under the checkout; the work directory is removed at exit.
The exit code is 0 only when every operation succeeded and every check
passed. See kgbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

STARTED = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the program under test, from source

import host  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
from spans import stage_counters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# input writes are repeated this many times in set-up; setup_s takes
# their median (session start and warm-up happen once per process)
INPUT_REPS = 3
# up to this many docs the DuckDB oracle runs beside the warm-up, whose
# time is no metric, and is done before the first timed operation; above
# it, it runs once the JVM has stopped, so the two never hold their
# memory at once (at 50k docs its window operators outgrow 4 GB)
ORACLE_BESIDE_WARMUP_DOCS = 10_000


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the workload's input row count (e.g. --docs 50000 "
                        "--seed 42 on extract reproduces the sf0.1 flagship corpus)")
    p.add_argument("--jit", choices=sorted(host.JIT_OPTS), default="c1",
                   help="JVM JIT tiers: c1 (the benchmark's steady default) or c2 "
                        "(the JVM default a deployment runs)")
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop Spark, close the JVM's stdin (its exit signal) and wait until
    no process started by this run is left, killing stragglers."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()  # no more py4j calls, not even from finalizers
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        while (rest := host.tree_pids(os.getpid())[1:]) and time.time() < deadline:
            time.sleep(0.2)
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _declared_metrics() -> dict[str, list[tuple[str, str]]]:
    """(name, unit) of every metric BENCHMARK.json declares, by kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: [(m["name"], m["unit"]) for m in spec[kind]]
            for kind in ("end_to_end", "per_layer")}


def _oracle_fingerprint(a, w, info: dict, work: str) -> tuple[int, int, int]:
    return oracle.cached_kg_fingerprint(
        w.docs_path, inputs.docs_key(a.seed, w.n_docs),
        os.path.join(ROOT, ".kgbench_cache"), info["cores"],
        2 * info["driver_heap_mb"], os.path.join(work, "tmp"))


def run(a, work: str) -> tuple[dict, dict]:
    declared = _declared_metrics()
    t0 = time.perf_counter()
    spark, info = host.start_session(work, trace=bool(a.trace), jit=a.jit)
    monitor = host.TreeMonitor().start()
    try:
        session_s = time.perf_counter() - t0
        w = WORKLOADS[a.workload](spark, work, a.seed, STARTED)
        input_s = []
        for _ in range(1 if a.trace else INPUT_REPS):  # setup_s is not traced
            t1 = time.perf_counter()
            w.setup(a.docs)
            input_s.append(time.perf_counter() - t1)
        # the cold warm-up is reported apart: JIT compilation makes it
        # swing with host load far more than session start and input writes
        setup_s = session_s + statistics.median(input_s)
        expected = None
        beside = a.workload == "extract" and w.n_docs <= ORACLE_BESIDE_WARMUP_DOCS
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = pool.submit(_oracle_fingerprint, a, w, info, work) if beside else None
            t2 = time.perf_counter()
            w.op("warm-up")
            info["warmup_s"] = time.perf_counter() - t2
            if pending is not None:
                expected = pending.result()
        info.update(session_s=session_s, input_s=input_s, setup_s=setup_s)

        outputs, walls, cpus, rates, task_cpus = [], [], [], [], []
        attempted = failed = 0
        monitor.reset_peak()
        t_end = time.perf_counter() + a.seconds
        want = 1 if a.trace else w.min_ops
        while attempted < want or (not a.trace and time.perf_counter() < t_end):
            attempted += 1
            try:
                task_cpu0 = sum(c["cpu_s"] for c in stage_counters(spark.sparkContext).values())
                with host.Stopwatch(monitor) as sw:
                    out = w.op(attempted)
                task_cpus.append(sum(c["cpu_s"] for c in stage_counters(spark.sparkContext).values())
                                 - task_cpu0)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                failed += 1
                continue
            outputs.append(out)
            walls.append(sw.wall_s)
            cpus.append(sw.cpu_s)
            rates.append(w.result_rows(out) / sw.wall_s)
        # reported, not metrics (see README.md, "Metrics")
        info.update(op_walls_s=walls, op_cpus_s=cpus, op_task_cpus_s=task_cpus,
                    peak_rss_mb=monitor.peak_mb)
        if walls:
            info.update(wall_s=statistics.median(walls), rows_per_s=statistics.median(rates))

        if a.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{a.workload}-s{a.seed}")
            # layers and extras a workload does not reach report zero
            metrics = dict.fromkeys((m[0] for m in declared["per_layer"]), 0.0)
            attempted += 1
            try:
                with host.Stopwatch(monitor) as tw:
                    w.trace(tracer)
                outputs.append(w.traced_output)
                metrics.update(w.trace_extras(tracer))
                failed += w.trace_failures
            except Exception:
                traceback.print_exc()
                failed += 1
            else:
                tracer.collect_counters()
                metrics.update(tracer.layer_metrics())
                accounted = sum(s["end"] - s["start"] for s in tracer.spans
                                if s["parent"] is None)
                metrics["trace.wall_s"] = tw.wall_s
                metrics["trace.unaccounted_s"] = tw.wall_s - accounted
                # the traced form of the timed operation against its
                # untraced wall time: what the spans, job groups and the
                # persist + count between layers cost
                metrics["trace.overhead_s"] = w.traced_op_wall_s - info.get("wall_s", 0.0)
                info.update(tracer_bookkeeping_s=tracer.overhead_s,
                            graph_skipped_from=w.graph_skipped_from,
                            graph_clock_s=w.graph_clock)
                out_dir = os.path.join(ROOT, ".kgbench_out")
                os.makedirs(out_dir, exist_ok=True)
                info["spans"] = os.path.join(out_dir, f"spans-{a.workload}-s{a.seed}.jsonl")
                tracer.write_jsonl(info["spans"])
        else:
            # over the first min_ops operations only: on a fast host more fit
            # in --seconds, and the later, warmer ones would lower the median
            # for that reason alone (they are still run and checked); if every
            # operation failed there is no CPU time, and correct is false
            first = cpus[:w.min_ops]
            metrics = {"setup_s": setup_s, "cpu_s": statistics.median(first) if first else 0.0}
        failed += w.check(outputs)
    finally:
        monitor.stop()
        _stop(spark)

    if w.fingerprints:
        if expected is None:
            expected = _oracle_fingerprint(a, w, info, work)
        for fp in w.fingerprints:
            if fp != expected:
                print(f"triples {fp} != DuckDB oracle {expected}", flush=True)
                failed += 1

    names = declared["per_layer" if a.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in names},
    }
    return result, info


def main(argv=None) -> int:
    a = _args(argv)
    if importlib.util.find_spec("corporate_knowledge_extractor_spark") is None:
        print(f"kgbench: the program's package is not under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result, info = run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"kgbench": info}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
