"""Plan audits for the round-5 fifth-wave batches (srm/mcc/resample,
attribution/blocking/encoding, theil-sen/cold-start, wilson/kmv) — the
exchange-count and join-shape claims the operator docstrings make,
pinned so a refactor can't silently regress them."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from dane_visual_feature_extraction_worker_spark.operators.asof import (
    resample_ffill,
    resample_linear,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _events(spark, n=2000):
    return spark.range(n).select(
        ((F.col("id") * 37) % 211).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            ((F.col("id") % 3) + 1).cast("int"),
        ).alias("event_type"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        ((F.col("id") % 997).cast("double") / 7.0).alias("value"),
        (F.col("id") % 11).alias("camp"),
    )


def test_srm_welch_mcc_no_hash_exchange(spark):
    """Global one-row conditional aggregates: the corpus is never
    hash-partitioned (only the SinglePartition collapse)."""
    from dane_visual_feature_extraction_worker_spark.operators.stats import (
        mcc_report,
        srm_check,
        welch_t_report,
    )

    e = _events(spark)
    for df in (
        srm_check(e.select(F.col("event_type").alias("v")), "v",
                  {"view": 1, "click": 1, "purchase": 1}),
        welch_t_report(e, "event_type", "value", "click", "view"),
        mcc_report(e, F.col("event_type") == "click", F.col("value") > 50),
    ):
        p = _plan(df)
        assert p.count("Exchange hashpartitioning") == 0, p
        assert "Join" not in p, p


def test_encoding_audit_single_exchange_no_join(spark):
    from dane_visual_feature_extraction_worker_spark.operators.textstats import (
        encoding_audit,
    )

    docs = spark.range(200).select(
        (F.col("id") % 5).cast("string").alias("source"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    p = _plan(encoding_audit(docs))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p


def test_linear_attribution_two_exchanges_zero_joins(spark):
    """The algebraic inversion's whole point: entity exchange for the
    two range windows + the |campaigns|-key rollup — and NO join
    anywhere (the naive plan is a touch-conversion range join)."""
    from dane_visual_feature_extraction_worker_spark.operators.funnel import (
        linear_attribution,
    )

    p = _plan(linear_attribution(_events(spark), campaign=F.col("camp")))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize("resample", [resample_ffill, resample_linear],
                         ids=["resample_ffill", "resample_linear"])
def test_resample_ffill_two_entity_exchanges_no_join(spark, resample):
    """Both resamplers share one events ∪ tick-grid plan."""
    p = _plan(
        resample(_events(spark), entity_col="user_id", ts_col="ts",
                 value_col="value", step_seconds=3600)
    )
    assert p.count("Exchange hashpartitioning") <= 3, p
    assert "Join" not in p, p
    assert "explode" in p.lower(), p  # the narrow grid generator


def test_forget_audit_broadcast_fact_never_shuffles(spark):
    from dane_visual_feature_extraction_worker_spark.operators.dq import (
        forget_audit,
    )

    e = _events(spark)
    tomb = e.where(F.col("user_id") % 7 == 0).select("user_id").distinct()
    p = _plan(forget_audit(e, tomb))
    assert "BroadcastHashJoin" in p, p
    # three bounded hash exchanges: tombstone distinct (x2) + the
    # countDistinct's map-side-deduped entity keys — never fact rows
    assert p.count("Exchange hashpartitioning") == 3, p
    # the fact scan feeds a partial aggregate, not an exchange: the
    # only join on the fact side is the broadcast
    assert "SortMergeJoin" not in p, p


def test_wilson_single_group_exchange(spark):
    from dane_visual_feature_extraction_worker_spark.operators.stats import (
        wilson_lower_bounds,
    )

    p = _plan(
        wilson_lower_bounds(
            _events(spark), "camp",
            success=F.col("event_type") == "click",
            trial=F.col("event_type") == "view",
        )
    )
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p


def test_theil_sen_no_cartesian(spark):
    """The pair build is an entity-key equi-join (bounded fan-out),
    never a cartesian/theta join."""
    from dane_visual_feature_extraction_worker_spark.operators.stats import (
        theil_sen_trend,
    )

    daily = _events(spark).groupBy(
        "user_id", (F.dayofyear("ts")).alias("day")
    ).agg(F.sum("value").cast("bigint").alias("cents"))
    p = _plan(theil_sen_trend(daily, "user_id", "day", "cents"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_cold_start_zero_joins_one_entity_exchange(spark):
    from dane_visual_feature_extraction_worker_spark.operators.dq import (
        cold_start_report,
    )

    p = _plan(
        cold_start_report(_events(spark), split_ts="1970-01-01 12:00:00")
    )
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
