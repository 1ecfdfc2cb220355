"""Benchmark of record for the point-in-time feature engine.

    python3 pitbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives closed-loop batch
jobs on ``local[<nproc>]``: the next job starts when the previous one has
finished. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md). The last line of standard output is
the result object; the line before it records the host, the resolved
Spark conf and each metric's median, quartiles and sample count.
Everything the JVM prints goes to standard error.
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

from procfs import alive, process_tree, rss_peaks_mb

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "dane_visual_feature_extraction_worker_spark"

# Untimed jobs before the timed window. Preparing the input already runs
# Spark's scan, shuffle and write paths, but each job still costs less CPU
# than the one before while the JIT compiles its code. Without the JIT
# compiler threads (which the CPU metrics leave out) one probe measured
# 13.9, 8.6, 7.4, 6.7, 7.1, 7.0 CPU seconds for six backfill jobs, so
# backfill times its third job. Resume pairs measured 19.1, 15.7, 14.9
# after the one-shot reference job resume prepares with; a warm-up pair
# costs 10-29 s, more than the time budget leaves, so resume times its
# first pair.
WARMUP_JOBS = {"backfill": 2, "resume": 0, "training_join": 2}
# A run must end well inside three minutes, whatever ``--seconds`` says.
DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "1/cpu-s",
    "resume_cpu_s": "cpu-s",
    "peak_rss_mb": "MB",
    "output_bytes_per_row": "B/row",
    "success_rate": "ratio",
}
PER_LAYER = {
    "rows_per_s": "1/s",
    "resume_s": "s",
    "session.start_s": "s",
    "kernel.busy_s": "s",
    "kernel.cpu_s": "s",
    "kernel.gc_s": "s",
    "kernel.shuffle_write_bytes_per_row": "B/row",
    "kernel.spill_bytes": "B",
    "kernel.task_skew": "ratio",
    "asof.busy_s": "s",
    "asof.cpu_s": "s",
    "asof.gc_s": "s",
    "asof.shuffle_write_bytes_per_row": "B/row",
    "asof.spill_bytes": "B",
    "asof.task_skew": "ratio",
    "asof.match_rate": "ratio",
    "sink.busy_s": "s",
    "sink.files_written": "count",
    "sink.bytes_per_row": "B/row",
    "checkpoint.run_s": "s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.overhead_s": "s",
    "checkpoint.jobs_per_bucket": "count",
    "checkpoint.files_written": "count",
    "checkpoint.redo_buckets": "count",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "error_rate": "ratio",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WARMUP_JOBS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workdir: str):
    """The engine's session on local[nproc], plus one trivial job.

    Spark's scratch space and temp files stay inside ``workdir``; the
    console progress bar is off."""
    from dane_visual_feature_extraction_worker_spark.config import EngineConfig
    from dane_visual_feature_extraction_worker_spark.session import get_spark

    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # Python workers import the engine package whatever their directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cfg = EngineConfig(
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
            ),
        },
    )
    spark = get_spark(cfg)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark; wait until the gateway JVM and its Python workers have
    exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    workers = process_tree(proc.pid)[1:]
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def spread(values: list[float]) -> dict:
    if len(values) > 1:
        q1, q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


class Tally:
    """Attempted and failed operations: timed jobs and output checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def job(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed job is counted, the run goes on
            self.failed += 1
            print(f"job failed: {e!r}", file=sys.stderr)
            return None

    def checks(self, fn, *args) -> None:
        try:
            results = fn(*args)
        except Exception as e:  # a check that raises counts as one failure
            results = [(f"raised {e!r}", False)]
        for name, ok in results:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"check failed: {name}", file=sys.stderr)


def measure(args, spark, workdir: str) -> tuple[dict, Tally, dict]:
    from counters import StatusStore
    from workloads import WORKLOADS, ZERO_LAYERS, clear, parquet_stats

    store = StatusStore(spark) if args.trace else None
    kind = WORKLOADS[args.workload]
    tally = Tally()
    n = 0

    def out_dir() -> str:
        nonlocal n
        n += 1
        return os.path.join(workdir, f"op{n}")

    t = time.monotonic()
    w = kind(spark, workdir, args.seed, nproc(), store)
    w.prepare()
    phases = {"prepare_s": time.monotonic() - t}
    for _ in range(WARMUP_JOBS[args.workload]):
        out = out_dir()
        tally.job(w.run, out)
        clear(out)
    phases["warmup_s"] = time.monotonic() - t - phases["prepare_s"]
    runs, traced, rounds = [], [], []
    t_loop = time.monotonic()
    # Start another job only while it is expected to end inside --seconds.
    # Outputs are checked after the loop, so the window holds only jobs.
    while not rounds or (
        time.monotonic() - t_loop + statistics.median(rounds) <= args.seconds
        and time.monotonic() - T0 < DEADLINE_S
    ):
        t_round = time.monotonic()
        out = out_dir()
        r = tally.job(w.run, out)
        if r is not None:
            runs.append((out, r))
        else:
            clear(out)
        if args.trace:
            tout = out_dir()
            layers = tally.job(w.traced, tout)
            if layers is not None:
                traced.append(layers)
            clear(tout)
        rounds.append(time.monotonic() - t_round)
    phases["loop_s"] = time.monotonic() - t_loop
    if not runs:
        raise RuntimeError("no job completed")
    sink_bytes = []
    for out, r in runs:
        tally.checks(w.check, out)
        sink_bytes.append(parquet_stats(*r["sink"])[1])
        clear(out)
    jobs = [r for _, r in runs]
    samples: dict[str, list[float]] = {
        "rows_per_s": [w.rows / r["wall_s"] for r in jobs],
        "resume_s": [r["resume_s"] for r in jobs],
        "rows_per_cpu_s": [w.rows / r["cpu_s"] for r in jobs],
        "resume_cpu_s": [r["resume_cpu_s"] for r in jobs],
        "output_bytes_per_row": [b / w.rows for b in sink_bytes],
    }
    if args.trace:
        if not traced:
            raise RuntimeError("no traced job completed")
        job_s = statistics.median(r["wall_s"] for r in jobs)
        for name in PER_LAYER:
            if name.startswith(ZERO_LAYERS[args.workload]):
                samples[name] = [0.0]
            elif name in traced[0]:
                samples[name] = [t[name] for t in traced]
        samples["trace.overhead_pct"] = [
            100.0 * (t["traced_job_s"] / job_s - 1.0) for t in traced
        ]
    return samples, tally, {
        "job_walls_s": [r["wall_s"] for r in jobs],
        "job_cpu_s": [r["cpu_s"] for r in jobs],
        **phases,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # The JVM and Spark write to file descriptor 1 too; keep the result
    # stream clean by pointing fd 1 at stderr and writing results to a
    # private duplicate of the original stdout.
    sys.stdout.flush()
    result = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    workdir = os.path.join(ROOT, ".pitbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    load_before = os.getloadavg()
    try:
        spark = start_session(workdir)
        setup_s = time.monotonic() - T0
        try:
            samples, tally, info = measure(args, spark, workdir)
            rss = rss_peaks_mb(spark.sparkContext._gateway.proc.pid)
            samples["peak_rss_mb"] = [sum(rss)]
            info["peak_rss_parts_mb"] = rss
            conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    samples["setup_s"] = samples["session.start_s"] = [setup_s]
    error_rate = tally.failed / tally.attempted
    samples["success_rate"] = [1.0 - error_rate]
    samples["error_rate"] = [error_rate]
    specs = PER_LAYER if args.trace else END_TO_END
    detail = {k: spread(v) for k, v in samples.items()}
    host = {
        "nproc": nproc(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "workload": args.workload,
        "seed": args.seed,
        **info,
        "total_s": time.monotonic() - T0,
        "spark_conf": conf,
    }
    print(json.dumps({"host": host, "detail": detail}), file=result)
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {
                    k: {"value": detail[k]["median"], "unit": u}
                    for k, u in specs.items()
                },
            }
        ),
        file=result,
    )
    result.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
