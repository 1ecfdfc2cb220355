"""spark-submit entrypoint: checkpointed point-in-time feature job.

Cluster usage (north rule packaging):

    scripts/build_package.sh          # -> dist/dane_feature_engine.zip
    spark-submit \
        --py-files dist/dane_feature_engine.zip \
        jobs/run_pipeline.py \
        --input  s3://bucket/transcripts/ \
        --output s3://bucket/features/ \
        --checkpoints s3://bucket/features/_checkpoints/ \
        --n-buckets 4096

The job is the distributed twin of the reference worker's
queue-callback loop (worker.py:66-90): enumerate pending buckets from
the checkpoint table, process, record lineage+metrics, resume on
restart. On a cluster, executors come from the scheduler; nothing here
is local-mode specific (``--master`` comes from spark-submit).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcript parquet/table path")
    ap.add_argument("--output", required=True, help="feature output root")
    ap.add_argument("--checkpoints", required=True, help="checkpoint records dir")
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument(
        "--config",
        action="append",
        default=[],
        help="engine YAML config file(s); later files override earlier "
        "(the reference's home -> base -> local layering). Validated "
        "eagerly — a malformed config fails at submit, naming the key. "
        "ENGINE.SHUFFLE_PARTITIONS, AQE, MAX_PARTITION_BYTES, "
        "ARROW_BATCH_SIZE and SPARK.EXTRA_CONF are set on the job's "
        "session; APP_NAME, MASTER and OFFHEAP_SIZE cannot change a "
        "running spark-submit session, so pass those to spark-submit.",
    )
    args = ap.parse_args(argv)

    from dane_visual_feature_extraction_worker_spark.checkpoint import CheckpointedRunner
    from dane_visual_feature_extraction_worker_spark.config import (
        EngineConfig,
        load_yaml_config,
    )
    from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features
    from dane_visual_feature_extraction_worker_spark.session import (
        sql_conf,
        tune_for_session,
    )

    # session comes from spark-submit's conf; only runtime knobs here,
    # and the engine defaults do not override spark-submit's own
    cfg = load_yaml_config(*args.config) if args.config else EngineConfig()
    spark = SparkSession.builder.appName("pit-feature-pipeline").getOrCreate()
    tune_for_session(spark, cfg)
    runtime = sql_conf(cfg) if args.config else {}
    for k, v in {**runtime, **cfg.extra_conf}.items():
        spark.conf.set(k, v)

    transcripts = spark.read.parquet(args.input)
    runner = CheckpointedRunner(
        spark,
        output_dir=args.output,
        checkpoint_dir=args.checkpoints,
        n_buckets=args.n_buckets,
    )
    # output_rows sums the done records' rows: no rescan of the output
    print(json.dumps(runner.run(transcripts, pit_features)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
