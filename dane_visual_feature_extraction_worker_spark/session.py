"""SparkSession factory with Arrow + AQE tuned for the engine.

The reference initializes its model/worker once per process
(reference: worker.py:61 init_model, nn_models.py:282-296); our analogue
is a single tuned SparkSession per process. All configs here are chosen
for the 100 TB scale path and merely *also* work on local[32]:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replace hand-tuned partition counts at scale.
- Arrow on, maxRecordsPerBatch = 256 to mirror the reference's
  deterministic batch size (feature_extraction.py:76) for the pandas
  kernels.
- shuffle.partitions is a floor; AQE coalesces down, skew split raises.

Parquet write policy (``PARQUET_WRITE_CONF``): every parquet file the
engine writes (the feature table, the as-of output, the runner's
``_staged`` snapshot and each bucket) is zstd-compressed without
dictionary encoding. Spark's default, snappy with dictionaries, bought
little for its CPU. Over 10 warm pitbench ``backfill`` jobs (seed 1,
local[4], 4-vCPU shared host) 19% of the JVM's execution samples were
in dictionary encoding (``Float2IntLinkedOpenHashMap``,
``DictionaryValuesWriter``); f2, f4, f5 and f14 built a dictionary
and then fell back to PLAIN, and snappy left most feature columns at
their uncompressed size. With this policy those samples are gone, and
over 10 alternating pitbench pairs per workload
``output_bytes_per_row`` fell from 68.9 to 61.9 B/row on ``backfill``
and from 67.3 to 58.7 on ``resume``, in every pair, while CPU and peak
RSS stayed within the runs' spread. Values are unchanged: only the
encoding differs. Earlier measurements rejected zstd with
dictionaries kept (58.1 B/row, no cheaper in CPU), writer v2, zstd
level 1 and per-column dictionary keys.

The tradeoff: with no dictionary page a reader cannot skip a row group
on an equality predicate by its dictionary, and ``conv_id`` is not
sorted in the output, so min/max statistics cannot skip on it either.
A point lookup by conversation reads every row group.

``parquet.enable.dictionary`` is a parquet-mr key, not a Spark one; it
reaches the writer as a session conf because each write's Hadoop conf
is built from the session conf (``SessionState.newHadoopConf`` copies
every entry). ``get_spark`` sets the policy before
``cfg.extra_conf``, so ``SPARK.EXTRA_CONF`` can override it;
``tune_for_session`` sets each key the session's SparkConf leaves
unset, as the key itself or as ``spark.hadoop.<key>``, so a
spark-submit ``--conf`` choice wins.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dane_visual_feature_extraction_worker_spark.config import EngineConfig


PARQUET_WRITE_CONF = {
    "spark.sql.parquet.compression.codec": "zstd",
    "parquet.enable.dictionary": "false",
}


def sql_conf(cfg: EngineConfig) -> dict[str, str]:
    """The runtime SQL confs ``cfg`` sets: settable on a running
    session as well as at build time."""
    return {
        "spark.sql.shuffle.partitions": str(cfg.shuffle_partitions),
        "spark.sql.adaptive.enabled": str(cfg.aqe).lower(),
        "spark.sql.files.maxPartitionBytes": cfg.max_partition_bytes,
    }


def get_spark(cfg: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession for ``cfg``."""
    cfg = cfg or EngineConfig()
    b = (
        SparkSession.builder.appName(cfg.app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_size),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", "8g")
    )
    if cfg.offheap_size:
        b = b.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", cfg.offheap_size
        )
    if cfg.master is not None or SparkSession.getActiveSession() is None:
        b = b.master(cfg.resolved_master)
    for k, v in {**sql_conf(cfg), **PARQUET_WRITE_CONF, **cfg.extra_conf}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession, cfg: EngineConfig) -> None:
    """Apply runtime-settable confs to an externally provided session.

    The driver hands us its own SparkSession in ``entry(spark)``; static
    confs can't change there, but these runtime ones keep kernel batch
    shape and timezone deterministic. The parquet write policy is set
    for each key the session's SparkConf does not already set, as the
    key or as ``spark.hadoop.<key>``: an operator's own choice wins.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    submitted = spark.sparkContext.getConf()
    for k, v in PARQUET_WRITE_CONF.items():
        if not (submitted.contains(k) or submitted.contains(f"spark.hadoop.{k}")):
            spark.conf.set(k, v)
    try:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_size),
        )
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:  # pragma: no cover - conf may be locked down
        pass
