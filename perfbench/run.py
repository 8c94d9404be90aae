"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|query_serving|query_driver>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process, one ``local[nproc]`` Spark
session from the package's ``get_spark``.  Inputs are generated from
``--seed``; the workload's operations are timed for ``--seconds`` (at
least a minimum number of operations always runs); every output is
checked against the benchmark's own oracle.  Human-readable detail
lines come first; the last line of stdout is the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` every operation is wrapped in spans that carry Spark and
``/proc`` counters, the metrics are the per-layer metrics, and the spans
(with self times) plus the per-layer JSON are written to
``.bench_out/<workload>-seed<n>.json``.

All scratch data lives in ``.bench_work/`` under the current directory.
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

from gen import SHAPES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "stored_bytes_per_content_byte": "ratio",
}

PIPELINE_MODES = ("exact", "capped", "minhash")

# per-layer metric -> unit
PER_LAYER = {
    "session.start_s": "s",
    "analyze.docs_per_s": "docs/s",
    "build.python_cpu_s": "s",
    "codec.encode_mpostings_per_s": "M/s",
    "codec.decode_mpostings_per_s": "M/s",
    "codec.bytes_per_posting": "B",
    "build.bounds_s": "s",
    "build.tokenize_encode_s": "s",
    "build.merge_s": "s",
    "build.docs_write_s": "s",
    "build.stats_write_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.shuffle_write_mb": "MB",
    "build.shuffle_read_mb": "MB",
    "build.task_run_s": "s",
    "build.jvm_cpu_s": "s",
    "build.core_busy_share": "ratio",
    "build.index_mb": "MB",
    "build.docs_mb": "MB",
    "build.runs_mb": "MB",
    "refresh.append_s": "s",
    "refresh.merge_s": "s",
    "refresh.reload_s": "s",
    "refresh.run_inputs": "count",
    "refresh.shuffle_write_mb": "MB",
    "querytree.parse_us": "us",
    "engine.open_jobs": "count",
    "engine.open_driver_rss_mb": "MB",
    "engine.plan_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.eager_jobs_per_query": "count",
    "engine.jobs_per_query": "count",
    "engine.stages_per_query": "count",
    "engine.tasks_per_query": "count",
    "engine.shuffle_kb_per_query": "KB",
    "engine.scan_fraction": "ratio",
    "engine.task_run_ms_per_query": "ms",
    "engine.python_cpu_ms_per_query": "ms",
    **{f"engine.shape.{s}.p50_ms": "ms" for s in SHAPES},
    **{f"pipeline.{m}.{k}": u for m in PIPELINE_MODES for k, u in (
        ("s", "s"), ("shuffle_write_mb", "MB"), ("task_run_s", "s"),
        ("python_cpu_s", "s"), ("pairs", "count"), ("pairs_per_candidate", "ratio"))},
    "pipeline.capped.inexact_share": "ratio",
    "proc.tree_rss_peak_mb": "MB",
    "proc.driver_rss_peak_mb": "MB",
    "proc.jvm_rss_peak_mb": "MB",
    "proc.python_workers_rss_peak_mb": "MB",
    "host.calibration_mops": "M/s",
    # the workload-specific user-facing numbers, from the traced run
    "build_docs_per_s": "docs/s",
    "refresh_visible_s": "s",
    "engine_open_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "query_qps": "1/s",
    "queries": "count",
    "dedup_exact_docs_per_s": "docs/s",
    "dedup_capped_docs_per_s": "docs/s",
    "dedup_minhash_docs_per_s": "docs/s",
    "failed_ops_share": "ratio",
    "trace.overhead_share": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def calibrate(n: int = 2_000_000) -> float:
    """Single-core pure-Python work units per second (M/s): host context."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return n / (time.perf_counter() - t0) / 1e6


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, spark, args, work: str, cores: int):
        from probes import Tracer

        self.spark, self.seed, self.seconds = spark, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work, self.cores = work, cores
        self.tracer = Tracer(spark.sparkContext, self.trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.setup_reps: list[float] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.t_timed = self.deadline = self.setup_s = self.wall = None

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def start_timed(self) -> None:
        """End of set-up: the one-shot part as measured, plus the median
        of the repeated set-up steps in place of their sum."""
        once = process_age_s() - sum(self.setup_reps)
        self.setup_s = once + statistics.median(self.setup_reps)
        self.t_timed = time.perf_counter()
        self.deadline = self.t_timed + self.seconds

    def past_deadline(self) -> bool:
        return time.perf_counter() >= self.deadline

    def end_timed(self) -> float:
        self.wall = time.perf_counter() - self.t_timed
        return self.wall

    @staticmethod
    def driver_rss_mb() -> float:
        with open("/proc/self/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def result_metrics(run) -> dict:
    """The result's ``metrics``: every end-to-end metric (untraced run)
    or every per-layer metric (traced run; 0 where the workload does not
    exercise the layer), whatever the inputs were."""
    if run.trace:
        return {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()}
    return {k: {"value": float(run.e2e[k]), "unit": u} for k, u in E2E.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every descendant of this process has exited."""
    from probes import process_tree

    end = time.monotonic() + timeout
    while time.monotonic() < end:
        t = process_tree(os.getpid())
        left = t["driver"][1:] + t["jvm"] + t["workers"]
        if not left:
            return
        for pid in left:  # reap our own exited children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "query_serving", "query_driver"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from informationretrieval_en_people_cn_spark.session import get_spark
    from probes import RssSampler
    from workloads import WORKLOADS

    # everything the run writes stays under the current directory; the
    # Python workers import the package from the same root
    work = os.path.join(os.getcwd(), ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata: the JVM would write it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=cores,
                          shuffle_partitions=max(cores, 8))
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, args, work, cores)
        run.layer["session.start_s"] = time.perf_counter() - t0
        WORKLOADS[args.workload](run)
        peaks = sampler.stop()
        if run.trace:
            run.layer["host.calibration_mops"] = calibrate()
    finally:
        if sampler.proc.returncode is None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        wait_children()
        shutil.rmtree(work, ignore_errors=True)

    run.e2e["setup_s"] = run.setup_s
    run.layer["proc.tree_rss_peak_mb"] = peaks["total"]
    run.layer["proc.driver_rss_peak_mb"] = peaks["driver"]
    run.layer["proc.jvm_rss_peak_mb"] = peaks["jvm"]
    run.layer["proc.python_workers_rss_peak_mb"] = peaks["workers"]
    run.layer["failed_ops_share"] = run.failed / max(run.attempted, 1)
    if run.trace:
        # the tracer's bookkeeping plus the calls made only when tracing
        # (the query's separate parse), over the timed window
        extra = sum(s["end"] - s["start"] for s in run.tracer.named("querytree.parse"))
        run.layer["trace.overhead_share"] = (run.tracer.overhead_s + extra) / run.wall

    for what in run.failures:
        print(f"FAILED: {what}")
    for k, v in run.info.items():
        print(f"input {k} = {v}")
    for k in sorted(run.layer):
        if not k.startswith("engine.shape."):
            print(f"{k} = {run.layer[k]:.6g} {PER_LAYER.get(k, '')}")

    metrics = result_metrics(run)
    if run.trace:
        out_dir = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "input": run.info,
                       "per_layer": metrics, "spans": run.tracer.with_self_time()},
                      f, indent=1, default=str)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
