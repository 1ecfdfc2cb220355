"""The three benchmark workloads.

Each workload generates its inputs from the seed with the engine's own
generator, writes them to parquet and reads them back before any timing,
so the timed jobs only ever read parquet. ``run`` is one complete job
(timed by the caller), ``check`` gates its output, ``traced`` repeats the
job one layer call at a time under job groups and returns the per-layer
numbers. Why each workload exists is in README.md.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyspark.sql.functions as F

from dane_visual_feature_extraction_worker_spark import datagen
from dane_visual_feature_extraction_worker_spark.checkpoint import CheckpointedRunner
from dane_visual_feature_extraction_worker_spark.kernel import (
    FEATURE_DIM,
    compute_features_numeric,
    with_text_features,
)
from dane_visual_feature_extraction_worker_spark.operators.asof import asof_join_union
from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features
from procfs import cpu_s, thread_ticks

PAYLOAD = ["conv_id", "ts"] + [f"f{i}" for i in range(FEATURE_DIM)]
AVG_TURNS = 50
BACKFILL_ANCHORS_PER_CONV = 4
TRAINING_ANCHORS_PER_CONV = 50
# share of the resume input held by its one hot conversation
RESUME_HOT_SHARE = 0.3
RESUME_BUCKETS = 2
TWIN_SAMPLE_CONVS = 8

# Per-layer metrics a workload reports as 0 because the layer does no
# work in it (the prediction "no change" for that layer).
ZERO_LAYERS = {
    "backfill": ("checkpoint.",),
    "training_join": ("kernel.", "checkpoint."),
    "resume": ("asof.",),
}


def parquet_stats(*paths: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet part files under ``paths``."""
    files = size = 0
    for path in paths:
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
    return files, size


def write_parquet(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def asof(anchors, features):
    return asof_join_union(
        anchors, features.select(*PAYLOAD), left_ts="anchor_ts", right_ts="ts"
    )


class Workload:
    """Shared state: session, inputs directory, seed, status store."""

    name = ""
    n_convs = 0

    def __init__(self, spark, workdir: str, seed: int, nproc: int, store=None):
        self.spark = spark
        self.inputs = os.path.join(workdir, "inputs")
        self.seed = seed
        self.partitions = 2 * nproc
        self.store = store
        self.rows = 0
        self._groups = 0

    def _materialize(self, df, name: str):
        path = os.path.join(self.inputs, name)
        write_parquet(df, path)
        return self.spark.read.parquet(path)

    def _transcripts(self, **shape):
        tr = datagen.gen_transcripts(
            self.spark,
            n_convs=self.n_convs,
            avg_turns=AVG_TURNS,
            seed=self.seed,
            partitions=self.partitions,
            **shape,
        )
        return self._materialize(tr, "transcripts")

    def _anchors(self, transcripts, per_conv: int):
        a = datagen.gen_anchors(
            self.spark, transcripts, per_conv=per_conv, seed=self.seed
        )
        a = self._materialize(a.repartition(self.partitions), "anchors")
        return a, a.count()

    def layer(self, layer: str, fn) -> dict:
        """Time ``fn`` under a fresh job group and read its counters."""
        self._groups += 1
        gid = f"{layer}#{self._groups}"
        with self.store.group(gid):
            t0 = time.monotonic()
            fn()
            wall = time.monotonic() - t0
        t1 = time.monotonic()
        out = {"wall_s": wall, **self.store.summary(gid)}
        out["collect_s"] = time.monotonic() - t1
        return out

    def asof_check(self, path: str, n_anchors: int) -> tuple[bool, float]:
        """Row count equals the anchor count and no match is later than
        its anchor (zero leakage); also returns the exact match rate."""
        rows, leaks, matched = (
            self.spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)),
                F.sum((F.col("matched_ts") > F.col("anchor_ts")).cast("long")),
                F.count("matched_ts"),
            )
            .collect()[0]
        )
        return rows == n_anchors and not leaks, matched / max(rows, 1)


class Backfill(Workload):
    """pit_features -> parquet, then as-of of 4 anchors/conv -> parquet."""

    name = "backfill"
    n_convs = 1_000

    def prepare(self) -> None:
        self.tr = self._transcripts(n_hot=0)
        self.rows = self.tr.count()
        self.anchors, self.n_anchors = self._anchors(
            self.tr, BACKFILL_ANCHORS_PER_CONV
        )
        rng = random.Random(self.seed)
        self.sample = [
            f"conv_{i:05d}" for i in rng.sample(range(self.n_convs), TWIN_SAMPLE_CONVS)
        ]
        self.twin = None

    def run(self, out: str) -> dict:
        t0, c0 = time.monotonic(), thread_ticks()
        write_parquet(pit_features(self.tr), f"{out}/features")
        feats = self.spark.read.parquet(f"{out}/features")
        write_parquet(asof(self.anchors, feats), f"{out}/asof")
        return one_shot(t0, c0, [out])

    def _sample_rows(self, df):
        return sort_rows(df.where(F.col("conv_id").isin(self.sample)).toPandas())

    def _twin(self):
        """The sample through the kernel of ``strategy="pandas"``
        (``compute_features_numeric`` over ``with_text_features``), run
        in this process on the collected rows rather than in a Python
        worker behind a shuffle, which would cost a worker start-up."""
        sample = self.tr.where(F.col("conv_id").isin(self.sample))
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        pdf = with_text_features(sample.select(*cols)).toPandas()
        return sort_rows(compute_features_numeric(pdf))

    def check(self, out: str) -> list[tuple[str, bool]]:
        feats = self.spark.read.parquet(f"{out}/features")
        if self.twin is None:  # every job reads the same input: one twin
            self.twin = self._twin()
        got, want = self._sample_rows(feats), self.twin
        twin = sorted(got.columns) == sorted(want.columns) and len(got) == len(want) and all(
            (got[c].to_numpy() == want[c].to_numpy()).all() for c in got.columns
        )
        return [
            ("features_rows", feats.count() == self.rows),
            ("pandas_twin", twin),
            ("asof_no_leak", self.asof_check(f"{out}/asof", self.n_anchors)[0]),
        ]

    def traced(self, out: str) -> dict:
        k = self.layer("kernel", lambda: write_noop(pit_features(self.tr)))
        ks = self.layer(
            "sink", lambda: write_parquet(pit_features(self.tr), f"{out}/features")
        )
        feats = self.spark.read.parquet(f"{out}/features")
        a = self.layer("asof", lambda: write_noop(asof(self.anchors, feats)))
        as_ = self.layer(
            "sink", lambda: write_parquet(asof(self.anchors, feats), f"{out}/asof")
        )
        files, size = parquet_stats(out)
        return {
            **layer_metrics("kernel", k, self.rows),
            **layer_metrics("asof", a, self.n_anchors),
            "asof.match_rate": self.asof_check(f"{out}/asof", self.n_anchors)[1],
            "sink.busy_s": (ks["wall_s"] - k["wall_s"]) + (as_["wall_s"] - a["wall_s"]),
            "sink.files_written": files,
            "sink.bytes_per_row": size / self.rows,
            **engine_metrics(k, ks, a, as_),
            "traced_job_s": sum(g["wall_s"] + g["collect_s"] for g in (ks, as_)),
        }


class TrainingJoin(Workload):
    """As-of join of 50 anchors/conv onto a prebuilt pit_features table."""

    name = "training_join"
    n_convs = 2_000

    def prepare(self) -> None:
        tr = self._transcripts(n_hot=0)
        self.feats = self._materialize(pit_features(tr), "features")
        self.anchors, self.rows = self._anchors(tr, TRAINING_ANCHORS_PER_CONV)

    def run(self, out: str) -> dict:
        t0, c0 = time.monotonic(), thread_ticks()
        write_parquet(asof(self.anchors, self.feats), f"{out}/asof")
        return one_shot(t0, c0, [out])

    def check(self, out: str) -> list[tuple[str, bool]]:
        return [("asof_no_leak", self.asof_check(f"{out}/asof", self.rows)[0])]

    def traced(self, out: str) -> dict:
        a = self.layer("asof", lambda: write_noop(asof(self.anchors, self.feats)))
        as_ = self.layer(
            "sink",
            lambda: write_parquet(asof(self.anchors, self.feats), f"{out}/asof"),
        )
        files, size = parquet_stats(out)
        return {
            **layer_metrics("asof", a, self.rows),
            "asof.match_rate": self.asof_check(f"{out}/asof", self.rows)[1],
            "sink.busy_s": as_["wall_s"] - a["wall_s"],
            "sink.files_written": files,
            "sink.bytes_per_row": size / self.rows,
            **engine_metrics(a, as_),
            "traced_job_s": as_["wall_s"] + as_["collect_s"],
        }


class Resume(Workload):
    """CheckpointedRunner killed after half its buckets, then restarted."""

    name = "resume"
    n_convs = 500

    def prepare(self) -> None:
        # conversation 0 gets AVG_TURNS * hot_factor turns, the others
        # AVG_TURNS on average
        cold = (self.n_convs - 1) * AVG_TURNS
        hot_factor = round(RESUME_HOT_SHARE / (1 - RESUME_HOT_SHARE) * cold / AVG_TURNS)
        self.tr = self._transcripts(n_hot=1, hot_factor=max(hot_factor, 1))
        ref = pit_features(self.tr)
        self.columns = ref.columns
        self.digest = digest(ref, self.columns)
        self.rows = self.digest[0]
        # the runner records each bucket with createDataFrame from Python
        # rows, which needs Python workers; start them before timing
        self.spark.createDataFrame([(0,)], "x int").collect()

    def _runner(self, out: str) -> CheckpointedRunner:
        return CheckpointedRunner(
            self.spark,
            output_dir=f"{out}/table",
            checkpoint_dir=f"{out}/checkpoints",
            n_buckets=RESUME_BUCKETS,
        )

    def _crash(self, out: str) -> None:
        try:
            self._runner(out).run(
                self.tr, pit_features, fail_after=RESUME_BUCKETS // 2
            )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("first attempt was not interrupted")

    def _restart(self, out: str) -> None:
        self._runner(out).run(self.tr, pit_features)

    def run(self, out: str) -> dict:
        t0, c0 = time.monotonic(), thread_ticks()
        self._crash(out)
        t1, c1 = time.monotonic(), thread_ticks()
        self._restart(out)
        t2, c2 = time.monotonic(), thread_ticks()
        return {
            "wall_s": t2 - t0,
            "resume_s": t2 - t1,
            "cpu_s": cpu_s(c0, c2),
            "resume_cpu_s": cpu_s(c1, c2),
            "sink": [f"{out}/table"],
        }

    def checkpoints(self, out: str):
        return self._runner(out).load_checkpoints().toPandas()

    def check(self, out: str) -> list[tuple[str, bool]]:
        table = self.spark.read.parquet(f"{out}/table")
        return [
            ("digest_equals_one_shot", digest(table, self.columns) == self.digest),
            ("redo_buckets_zero", redo_buckets(self.checkpoints(out)) == 0),
        ]

    def traced(self, out: str) -> dict:
        k = self.layer("kernel", lambda: write_noop(pit_features(self.tr)))
        ks = self.layer(
            "sink", lambda: write_parquet(pit_features(self.tr), f"{out}/oneshot")
        )
        c1 = self.layer("checkpoint", lambda: self._crash(out))
        c2 = self.layer("checkpoint", lambda: self._restart(out))
        cps = self.checkpoints(out)
        done = cps[cps["status"] == "done"]
        bucket_s = done["ms"] / 1000.0
        overhead = [
            c["wall_s"] - done.loc[done["attempt"] == n, "ms"].sum() / 1000.0
            for n, c in ((1, c1), (2, c2))
        ]
        files, size = parquet_stats(f"{out}/oneshot")
        runner_files = parquet_stats(f"{out}/table", f"{out}/checkpoints")[0] + len(
            [n for n in os.listdir(f"{out}/table") if n.startswith("_provenance")]
        )
        return {
            **layer_metrics("kernel", k, self.rows),
            "sink.busy_s": ks["wall_s"] - k["wall_s"],
            "sink.files_written": files,
            "sink.bytes_per_row": size / self.rows,
            "checkpoint.run_s": (c1["wall_s"] + c2["wall_s"]) / 2,
            "checkpoint.bucket_s_p50": float(statistics.median(bucket_s)),
            "checkpoint.bucket_s_max": float(bucket_s.max()),
            "checkpoint.overhead_s": sum(overhead) / 2,
            "checkpoint.jobs_per_bucket": (c1["jobs"] + c2["jobs"]) / RESUME_BUCKETS,
            "checkpoint.files_written": runner_files,
            "checkpoint.redo_buckets": redo_buckets(cps),
            **engine_metrics(k, ks, c1, c2),
            "traced_job_s": sum(c["wall_s"] + c["collect_s"] for c in (c1, c2)),
        }


WORKLOADS = {w.name: w for w in (Backfill, TrainingJoin, Resume)}


def sort_rows(pdf):
    return pdf.sort_values(
        ["conv_id", "ts", "turn_idx"], kind="mergesort"
    ).reset_index(drop=True)


def one_shot(t0: float, c0: dict, sink: list[str]) -> dict:
    """Wall and CPU seconds of a job started at ``t0``/``c0``. A one-shot
    job keeps no checkpoint, so restarting it reruns all of it."""
    wall, cpu = time.monotonic() - t0, cpu_s(c0, thread_ticks())
    return {
        "wall_s": wall,
        "resume_s": wall,
        "cpu_s": cpu,
        "resume_cpu_s": cpu,
        "sink": sink,
    }


def digest(df, columns: list[str]) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes) of ``columns``."""
    rows, total = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*columns).cast("decimal(38,0)")),
    ).collect()[0]
    return int(rows), int(total or 0)


def redo_buckets(cps) -> int:
    """Buckets the restart recorded again although attempt 1 had them done."""
    done = cps[cps["status"] == "done"]
    first = set(done.loc[done["attempt"] == 1, "bucket"])
    return int(done.loc[done["attempt"] > 1, "bucket"].isin(first).sum())


def layer_metrics(layer: str, c: dict, rows: int) -> dict:
    return {
        f"{layer}.busy_s": c["wall_s"],
        f"{layer}.cpu_s": c["cpu_s"],
        f"{layer}.gc_s": c["gc_s"],
        f"{layer}.shuffle_write_bytes_per_row": c["shuffle_write_bytes"] / rows,
        f"{layer}.spill_bytes": c["spill_bytes"],
        f"{layer}.task_skew": c["task_skew"],
    }


def engine_metrics(*calls: dict) -> dict:
    return {
        "spark.jobs": sum(c["jobs"] for c in calls),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in calls),
    }


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
