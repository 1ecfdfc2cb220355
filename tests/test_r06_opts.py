"""Focused tests for the round-6 optimization internals: the
scale-adaptive `_fan` scan widener, the memoized-schema parquet reader,
and the lean transcript projection's ordering invariant.  Each pins the
*result-identity* claim the optimization rests on, so a later refactor
can't silently turn a plan-shape change into a value change."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_fan_widens_narrow_scan_and_preserves_rows(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    assert e.rdd.getNumPartitions() == 1, "sf0.001 events should be one split"
    fanned = dq._fan(e, "event_id")
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # Row multiset is untouched — the fan is a pure repartition.
    a = sorted(r["event_id"] for r in e.select("event_id").collect())
    b = sorted(r["event_id"] for r in fanned.select("event_id").collect())
    assert a == b


def test_fan_is_identity_when_scan_is_wide_enough(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    wide = e.repartition(spark.sparkContext.defaultParallelism + 4)
    # inputFiles is the same parquet, but the memo key is probed on the
    # df handed in — a wide frame must come back unchanged (no extra
    # exchange at production split counts).
    key = (tuple(sorted(wide.inputFiles())), spark.sparkContext.defaultParallelism)
    # the memo key is the file set, shared with the raw scan: restore it
    # so later tests of the narrow scan still see their own entry
    saved = dict(dq._SCAN_PARTS)
    try:
        dq._SCAN_PARTS[key] = wide.rdd.getNumPartitions()
        assert dq._fan(wide) is wide
    finally:
        dq._SCAN_PARTS.clear()
        dq._SCAN_PARTS.update(saved)


def test_fan_off_switch_restores_plain_scan(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    dq._FAN_OFF = True
    try:
        assert dq._fan(e, "event_id") is e
    finally:
        dq._FAN_OFF = False


def test_read_parquet_memoized_schema_matches_inference(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    path = f"{SF}/events.parquet"
    direct = spark.read.parquet(path)
    memo = dq._read_parquet(spark, path)
    assert memo.schema == direct.schema
    assert memo.count() == direct.count()
    # Second call serves the schema from the memo (no new entry churn).
    assert path in dq._SCHEMAS
    again = dq._read_parquet(spark, path)
    assert again.schema == direct.schema


def test_textstats_has_no_eager_collect():
    """VERDICT r5 #4 done-criterion: the LM scorers route their corpus
    totals through lazy broadcast scalars — no `.collect()` barrier
    anywhere in operators/textstats.py."""
    import inspect

    from dane_visual_feature_extraction_worker_spark.operators import textstats

    src = inspect.getsource(textstats)
    assert ".collect(" not in src


def test_lean_projection_order_matches_turn_idx(spark):
    """The `_tr_proj_lean` contract: within a conversation, ordering by
    (ts, turn_ord=event_id) is exactly the full projection's turn_idx
    order — so operators that only ORDER by turn_idx are result-
    identical on the lean frame (no corpus rank window)."""
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    full = dq._tr_proj(spark, SF).select("conv_id", "turn_idx", "ts")
    lean = dq._tr_proj_lean(spark, SF)
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_ord")
    rederived = lean.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx2"),
        "ts",
        "turn_ord",
    )
    joined = full.join(
        rederived,
        on=["conv_id", "ts"],
        how="full_outer",
    )
    # every (conv, ts) pairing carries equal rank sets; compare the
    # multisets per conversation to be tie-safe
    bad = (
        joined.groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_list("turn_idx")).alias("a"),
            F.sort_array(F.collect_list("turn_idx2")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert bad == 0
    # and the lean plan really has no Window node
    plan = lean._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
