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
    totals through lazy broadcast scalars — no eager action
    (``collect``/``toPandas``/``first``/``head``) anywhere in
    operators/textstats.py. Scans the syntax tree, so prose in a
    docstring or comment cannot trip it; ``F.first`` is the lazy
    aggregate, not the action."""
    import ast
    import inspect

    from dane_visual_feature_extraction_worker_spark.operators import textstats

    eager = [
        f"{node.func.attr} (line {node.lineno})"
        for node in ast.walk(ast.parse(inspect.getsource(textstats)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"collect", "toPandas", "first", "head"}
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
    ]
    assert eager == []


def test_lean_projection_order_matches_turn_idx(spark, monkeypatch):
    """The `_tr_proj_lean` contract: within a conversation, ordering by
    (ts, turn_ord=event_id) is exactly the full projection's turn_idx
    order — so operators that only ORDER by turn_idx are result-
    identical on the lean frame (no corpus rank window).

    Checked row by row on (conv_id, ts, event_id). The events are
    coarsened to whole days so ts ties exist and the tie-break is
    exercised, and each row's event_id rides in ``props`` (the full
    projection's ``text``) so the full side keeps its identity."""
    from pyspark.sql import Window

    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    events = dq._events

    def tied_events(spark, sf_dir):
        return events(spark, sf_dir).select(
            "event_id",
            F.date_trunc("day", "ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            F.col("event_id").cast("string").alias("props"),
        )

    monkeypatch.setattr(dq, "_events", tied_events)
    full = dq._tr_proj(spark, SF).select(
        "conv_id", "ts", F.col("text").cast("long").alias("event_id"), "turn_idx"
    )
    lean = dq._tr_proj_lean(spark, SF)
    assert lean.groupBy("conv_id", "ts").count().where("count > 1").count() > 0

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_ord")
    rederived = lean.select(
        "conv_id",
        "ts",
        F.col("turn_ord").alias("event_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx2"),
    )
    joined = full.join(rederived, on=["conv_id", "ts", "event_id"], how="full_outer")
    n = full.count()
    assert n > 0 and rederived.count() == n and joined.count() == n
    assert joined.where(~F.col("turn_idx").eqNullSafe(F.col("turn_idx2"))).count() == 0
    # and the lean plan really has no Window node
    plan = lean._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
