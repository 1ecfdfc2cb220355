"""The engine session's parquet write policy (``session.PARQUET_WRITE_CONF``)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A stand-in for a spark-submit job: each session is built from its own
# SparkConf, as spark-submit's --conf would, without get_spark; then
# tune_for_session and one parquet write. Prints each session's policy
# keys as JSON.
_SUBMIT_SESSIONS = """
import json, sys
from pyspark.sql import SparkSession
from dane_visual_feature_extraction_worker_spark.config import EngineConfig
from dane_visual_feature_extraction_worker_spark.session import (
    PARQUET_WRITE_CONF, tune_for_session)

out_dir = sys.argv[1]
sessions = {
    "bare": {},
    "operator": {
        "spark.sql.parquet.compression.codec": "gzip",
        "spark.hadoop.parquet.enable.dictionary": "true",
    },
}
seen = {}
for name, conf in sessions.items():
    b = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    tune_for_session(spark, EngineConfig())
    seen[name] = {k: spark.conf.get(k, None) for k in PARQUET_WRITE_CONF}
    spark.range(1000).selectExpr("id % 3 AS k").write.parquet(f"{out_dir}/{name}")
    spark.stop()
print(json.dumps(seen))
"""


def column_chunks(d: str) -> list:
    """The metadata of every column chunk of the parquet files under ``d``."""
    chunks = []
    for f in glob.glob(f"{d}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            chunks += [rg.column(j) for j in range(rg.num_columns)]
    assert chunks, f"no column chunk under {d}"
    return chunks


def is_zstd_plain(chunk) -> bool:
    """zstd-compressed, with no dictionary page or dictionary encoding."""
    return (
        chunk.compression == "ZSTD"
        and not chunk.has_dictionary_page
        and not {"PLAIN_DICTIONARY", "RLE_DICTIONARY"} & set(chunk.encodings)
    )


def test_feature_table_and_runner_parquet_are_zstd_without_dictionary(
    spark, transcripts, tmp_path
):
    """Every column chunk of the feature table, the runner's ``_staged``
    snapshot and its buckets is zstd-compressed with no dictionary page:
    Spark's default was snappy with dictionaries."""
    from dane_visual_feature_extraction_worker_spark.checkpoint import CheckpointedRunner
    from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features

    tmp = str(tmp_path)
    pit_features(transcripts).write.parquet(f"{tmp}/features")
    r = CheckpointedRunner(spark, f"{tmp}/out", f"{tmp}/cp", n_buckets=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, pit_features, fail_after=1)
    for d in ("features", "out/_staged", "out/bucket=*"):
        assert all(is_zstd_plain(c) for c in column_chunks(f"{tmp}/{d}")), d


def test_tune_for_session_keeps_the_operators_parquet_choice(tmp_path):
    """A spark-submit session that sets neither key gets the policy from
    ``tune_for_session``, and its writes follow it. A session whose
    SparkConf sets the codec, or the dictionary as
    ``spark.hadoop.parquet.enable.dictionary``, keeps that choice."""
    run = subprocess.run(
        [sys.executable, "-c", _SUBMIT_SESSIONS, str(tmp_path)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": ROOT},
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    seen = json.loads(run.stdout.strip().splitlines()[-1])
    assert seen["bare"] == {
        "spark.sql.parquet.compression.codec": "zstd",
        "parquet.enable.dictionary": "false",
    }
    assert all(is_zstd_plain(c) for c in column_chunks(f"{tmp_path}/bare"))
    assert seen["operator"] == {
        "spark.sql.parquet.compression.codec": "gzip",
        "parquet.enable.dictionary": None,
    }
    kept = column_chunks(f"{tmp_path}/operator")
    assert all(c.compression == "GZIP" and c.has_dictionary_page for c in kept)


def test_extra_conf_overrides_the_write_policy(spark):
    """``get_spark`` sets the policy before ``SPARK.EXTRA_CONF``."""
    from dane_visual_feature_extraction_worker_spark import EngineConfig, get_spark
    from dane_visual_feature_extraction_worker_spark.session import sql_conf

    key = "spark.sql.parquet.compression.codec"
    cfg = EngineConfig(extra_conf={key: "gzip"})
    before = {k: spark.conf.get(k) for k in [*sql_conf(cfg), key]}
    assert before[key] == "zstd"
    try:
        assert get_spark(cfg) is spark and spark.conf.get(key) == "gzip"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
