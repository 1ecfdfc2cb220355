"""Tests of the benchmark's own plumbing.

    python3 -m pytest pitbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
from counters import StatusStore  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_session(s)


def test_two_stage_job_is_attributed_to_its_group(spark):
    import pyspark.sql.functions as F

    store = StatusStore(spark)
    with store.group("one-stage"):
        spark.range(100).collect()
    with store.group("two-stage"):
        spark.range(0, 10_000, 1, 4).groupBy(
            (F.col("id") % 10).alias("k")
        ).count().collect()
    spark.range(10).collect()  # after the block: in no group

    two = store.summary("two-stage")
    assert two["stages"] == 2  # map stage + result stage; skipped ones excluded
    assert two["tasks"] >= 5  # 4 map tasks + at least one reduce task
    assert two["shuffle_write_bytes"] > 0
    assert two["failed_tasks"] == 0 and two["cpu_s"] > 0

    one = store.summary("one-stage")
    assert one["jobs"] == 1 and one["stages"] == 1
    assert one["shuffle_write_bytes"] == 0

    ids = {g: {j["jobId"] for j in store.jobs(g)} for g in ("one-stage", "two-stage")}
    assert ids["one-stage"] and ids["two-stage"]
    assert not ids["one-stage"] & ids["two-stage"]
    tagged = ids["one-stage"] | ids["two-stage"]
    newest = max(j["jobId"] for j in store._get("/jobs"))
    assert newest not in tagged


def test_benchmark_json_names_the_metrics_run_py_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WARMUP_JOBS)
