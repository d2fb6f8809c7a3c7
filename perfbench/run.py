"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kmeans_ivf --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: the engine is imported from
there. The run generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, starts the session, runs one
untimed warm-up operation, then repeats the workload's operation with one
client until ``--seconds`` have passed, at least once. Every operation's
output is checked after its clock stops. With ``--trace 1`` one more
operation runs with spans around the engine's public calls, and the
per-layer metrics are reported instead of the end-to-end ones; the spans
are written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``. Last,
the session is stopped and set up again several times to time set-up.

Tests of the benchmark itself, which need no Spark:

    python3 -m pytest perfbench/tests -q

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is a JSON object with the run's environment, inputs and workload-specific
results (recall, precision, query latencies with their sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: Session set-ups per run; ``setup_s`` is their median. They run after
#: the measured operations, on a JVM those have warmed, so that they time
#: the session and the scan rather than the JVM's start and JIT.
SETUPS = 5


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A quarter of physical memory, at most 1 GiB: the workloads need far
    less, and the machine may be shared."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return min(1024, total_kb // 4096)


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(pid))
    return children


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident set (VmHWM) of the JVM, and the sum of the peaks of
    every process under it, which are the Python workers, in MB."""
    children = _proc_children()

    def vm_hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                return next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            return 0  # the worker exited

    todo, workers_kb = list(children.get(jvm_pid, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        workers_kb += vm_hwm_kb(pid)
    return vm_hwm_kb(jvm_pid) / 1024.0, workers_kb / 1024.0


def job_stats(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) for the given job groups."""
    tracker = sc.statusTracker()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks + info.numFailedTasks
    return len(jobs), stages, tasks


def task_seconds(sc) -> float:
    """Run time of all tasks the local executor has finished, in seconds,
    once the listener has caught up with the scheduler."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().executorSummary("driver").totalDuration() / 1e3


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": cpu_count(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": sys.version.split()[0],
    }


class Runner:
    """One run: the session, measuring windows of the operation, and
    session set-ups."""

    def __init__(self, workload, work: str):
        self.wl = workload
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def set_up(self, get_spark) -> tuple[float, float]:
        """Stop the session if there is one, then ``get_spark`` and a full
        scan of the input. Returns (session, scan) seconds."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpu_count()}]",
            shuffle_partitions=cpu_count(),
            extra_conf={
                "spark.driver.memory": f"{heap_mb()}m",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("setup", "warm-up scan")
        self.spark.read.parquet(self.wl.input["path"]).selectExpr(self.wl.scan_expr).collect()
        return t1 - t0, time.perf_counter() - t1

    def window(self, phase: str, tracer, seconds: float) -> tuple[list[float], dict]:
        """Repeat the operation until ``seconds`` have passed, at least
        once. Each operation's output is checked after its clock stops.
        Returns each operation's wall time and the workload's log of the
        window."""
        sc = self.spark.sparkContext
        self.wl.log = {}
        walls: list[float] = []
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < seconds:
            sc.setJobGroup(phase, phase)
            self.attempted += 1
            try:
                t = time.perf_counter()
                try:
                    with tracer.span(f"{self.wl.name}.operation"):
                        out = self.wl.operation(self.spark, tracer, phase)
                finally:
                    walls.append(time.perf_counter() - t)
                self.wl.check(out)
            except Exception:  # counted as a failed operation; the run goes on
                self.failed += 1
                traceback.print_exc()
        return walls, self.wl.log

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def latency_ms(samples_s: list[float]) -> dict:
    """Median latency, and the highest percentile up to p90 that has at
    least ten samples beyond it (none with ten samples or fewer)."""
    from spans import MIN_TAIL, percentile, tail_percentile

    out = {"samples": len(samples_s), "p50": percentile(samples_s, 50) * 1e3}
    if len(samples_s) > MIN_TAIL and tail_percentile(len(samples_s)) > 50:
        p = tail_percentile(len(samples_s))
        out[f"p{p:g}"] = percentile(samples_s, p) * 1e3
    return out


def _median(log: dict, key: str, scale: float = 1.0) -> float:
    vals = log.get(key)
    return statistics.median(vals) * scale if vals else 0.0


def layer_metrics(wl, setups, spark_counts, timed_walls, timed_log, traced_walls, traced_log,
                  tracer):
    """Per-layer metrics. Times come from the traced window's spans (the
    median self time of one span of that name); counts, task time and
    query latencies from the untraced window, whose plans tracing does not
    change. A layer the workload does not call reports 0."""
    from spans import self_times

    by_name: dict[str, list[float]] = {}
    for span, own in zip(tracer.spans, self_times(tracer.spans)):
        by_name.setdefault(span.name, []).append(own)

    def span_s(name: str, scale: float = 1.0) -> float:
        return _median(by_name, name, scale)

    ops = len(timed_walls)
    queries = len(timed_log.get("query_s", []))
    cand = _median(traced_log, "candidate_pairs")
    verified = _median(traced_log, "verified_pairs")
    m = {
        "session.get_spark_s": (statistics.median(a for a, _ in setups), "s"),
        "sources.scan_s": (statistics.median(b for _, b in setups), "s"),
        "sources.input_bytes": (wl.input["bytes"], "bytes"),
        "operators.kmeans.first_iter_s": (span_s("operators.kmeans.first_iter"), "s"),
        "operators.kmeans.iter_s": (span_s("operators.kmeans.iter"), "s"),
        "operators.kmeans.final_sse_s": (span_s("operators.kmeans.final_sse"), "s"),
        "operators.kmeans.iterations": (_median(timed_log, "iterations"), "count"),
        "functions.text.quality_gate_s": (span_s("functions.text.quality_gate"), "s"),
        "operators.dedup.exact_s": (span_s("operators.dedup.dedup_exact"), "s"),
        "operators.dedup.shingle_s": (span_s("operators.dedup.shingle_rows"), "s"),
        "operators.dedup.minhash_candidates_s": (
            span_s("operators.dedup.minhash_candidate_pairs"), "s"),
        "operators.dedup.jaccard_verify_s": (span_s("operators.dedup.jaccard_pairs"), "s"),
        "operators.dedup_pipeline.components_s": (
            span_s("operators.dedup_pipeline.connected_components"), "s"),
        "operators.dedup.candidate_pairs": (cand, "count"),
        "operators.dedup.verified_pairs": (verified, "count"),
        "operators.dedup.lsh_precision": (verified / cand if cand else 0.0, "ratio"),
        "operators.similarity.index_build_s": (_median(timed_log, "index_build_s"), "s"),
        "operators.similarity.build_write_s": (
            span_s("operators.similarity.build_ivf_index"), "s"),
        "operators.similarity.index_bytes": (_median(timed_log, "index_bytes"), "bytes"),
        "operators.similarity.load_centroids_ms": (
            span_s("operators.similarity.load_ivf_centroids", 1e3), "ms"),
        "operators.similarity.probe_ms": (
            span_s("operators.similarity.probe_buckets", 1e3), "ms"),
        "operators.similarity.scan_topk_ms": (
            span_s("operators.similarity.ivf_topk_pruned", 1e3), "ms"),
        "operators.similarity.query_p50_ms": (
            latency_ms(timed_log["query_s"])["p50"] if queries else 0.0, "ms"),
        "operators.similarity.rows_scanned_per_query": (
            _median(timed_log, "rows_scanned"), "count"),
        "operators.similarity.scan_frac": (
            _median(timed_log, "rows_scanned") / wl.input["rows"], "ratio"),
        "spark.jobs": (spark_counts["jobs"] / ops, "count"),
        "spark.stages": (spark_counts["stages"] / ops, "count"),
        "spark.tasks": (spark_counts["tasks"] / ops, "count"),
        "spark.task_s": (spark_counts["task_s"] / ops, "s"),
        "spark.jobs_per_query": (
            spark_counts["query_jobs"] / queries if queries else 0.0, "count"),
        "tracing_overhead_s": (
            statistics.median(traced_walls) - statistics.median(timed_walls), "s"),
    }
    # how much of the traced operations' wall time the layer spans cover
    ops_total = sum(traced_walls)
    root = sum(by_name.get(f"{wl.name}.operation", []))
    detail = {
        "self_s": {k: round(sum(v), 6) for k, v in sorted(by_name.items())},
        "traced_wall_s": ops_total,
        "unattributed_frac": root / ops_total if ops_total else 0.0,
    }
    return m, detail


def result_line(runner: Runner, metrics: dict) -> dict:
    """The run's final line: checks passed, operations attempted and
    failed, and every metric with its unit."""
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark and its Python workers write stays in the work dir
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # the JVMs' temp files, and no perf-counter file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    sys.path.insert(0, ROOT)
    runner = None
    try:
        # the engine comes from the checkout; without it the run fails here
        from k_means_using_mapreduce_spark.session import get_spark

        from spans import Tracer

        wl = WORKLOADS[args.workload](args.seed, work)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        run_id = f"{args.workload}-{args.seed}"
        tracer = Tracer(run_id, enabled=bool(args.trace))
        off = Tracer(run_id, enabled=False)
        runner = Runner(wl, work)
        t = time.perf_counter()
        runner.set_up(get_spark)  # launches the JVM
        launch_s = time.perf_counter() - t
        # first use of each code path: Python workers, JIT, codegen caches
        warm_walls, _ = runner.window("warmup", off, 0)
        sc = runner.spark.sparkContext
        task_s = task_seconds(sc)
        timed_walls, timed_log = runner.window("timed", off, args.seconds)
        task_s = task_seconds(sc) - task_s
        jobs, stages, tasks = job_stats(sc, ["timed", "timed:build", "timed:query"])
        spark_counts = {
            "jobs": jobs, "stages": stages, "tasks": tasks, "task_s": task_s,
            "query_jobs": job_stats(sc, ["timed:query"])[0],
        }
        if args.trace:
            # one traced operation: per-layer numbers carry no bound
            traced_walls, traced_log = runner.window("traced", tracer, 0)
        jvm_mb, workers_mb = peak_rss_mb(sc._gateway.proc.pid)
        setups = [runner.set_up(get_spark) for _ in range(SETUPS)]
        timed_s = sum(timed_walls)
        e2e = {
            "setup_s": (statistics.median(a + b for a, b in setups), "s"),
            "wall_s": (statistics.median(timed_walls), "s"),
            "rows_per_s": (wl.input["rows"] * len(timed_walls) / timed_s, "1/s"),
            "peak_rss_mb": (jvm_mb + workers_mb, "MB"),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "env": versions(runner.spark) | {"jvm_heap_mb": heap_mb()},
            "input": {"rows": wl.input["rows"], "bytes": wl.input["bytes"]},
            "phases_s": {
                "input_gen": gen_s,
                "launch": launch_s,
                "warm_up": sum(warm_walls),
                "timed": timed_s,
                "set_ups": sum(a + b for a, b in setups),
            },
            "setups_s": setups,
            "timed_walls_s": timed_walls,
            "timed_parts_s": {k: v for k, v in timed_log.items() if k.endswith("_s")},
            # how much of the timed wall time is Spark task work: the rest
            # is job scheduling and driver-side code
            "spark": {
                "jobs_per_op": jobs / len(timed_walls),
                "task_s_per_op": task_s / len(timed_walls),
                "task_slot_frac": task_s / (timed_s * cpu_count()),
            },
            "peak_rss_mb": {"jvm": jvm_mb, "python_workers": workers_mb},
            "failed_frac": runner.failed_frac(),
        }
        # output quality: every operation is also checked against its floor
        for key in ("recall_at_10", "dedup_precision", "dedup_recall"):
            if key in timed_log:
                detail[key] = statistics.mean(timed_log[key])
        if "query_s" in timed_log:
            detail["query_ms"] = latency_ms(timed_log["query_s"])
        if args.trace:
            metrics, trace_detail = layer_metrics(
                wl, setups, spark_counts, timed_walls, timed_log, traced_walls, traced_log,
                tracer,
            )
            detail.update(trace_detail)
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{run_id}.jsonl"))
        else:
            metrics = e2e
        detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if runner is not None:
            runner.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps(result_line(runner, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
