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
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dane_visual_feature_extraction_worker_spark.config import EngineConfig


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
    for k, v in {**sql_conf(cfg), **cfg.extra_conf}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession, cfg: EngineConfig) -> None:
    """Apply runtime-settable confs to an externally provided session.

    The driver hands us its own SparkSession in ``entry(spark)``; static
    confs can't change there, but these runtime ones keep kernel batch
    shape and timezone deterministic.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_size),
        )
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:  # pragma: no cover - conf may be locked down
        pass
