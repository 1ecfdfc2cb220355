"""As-of join: the union-window engine path and its range-join oracle
vs the brute-force pandas reference, including ties, null keys, empty
right sides, and anchors before any event."""

from __future__ import annotations

import pandas as pd
import pytest
import pyspark.sql.functions as F

from dane_visual_feature_extraction_worker_spark.datagen import gen_anchors, gen_transcripts
from dane_visual_feature_extraction_worker_spark.operators.asof import (
    asof_join_forward,
    asof_join_nearest,
    asof_join_rangejoin,
    asof_join_union,
)
from tests.reference_impl import asof_join_ref


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def test_asof_paths_match_bruteforce(spark, transcripts, transcripts_pd):
    anchors = gen_anchors(spark, transcripts, per_conv=6)
    right = transcripts.select("conv_id", "ts", "turn_idx", "role")

    got_union = asof_join_union(
        anchors, right, on="conv_id", left_ts="anchor_ts", right_order="turn_idx"
    ).toPandas()
    got_range = asof_join_rangejoin(
        anchors,
        right,
        on="conv_id",
        left_ts="anchor_ts",
        right_order="turn_idx",
        left_keys=["conv_id", "anchor_ts"],
    ).toPandas()

    ref = asof_join_ref(
        anchors.toPandas(),
        transcripts_pd[["conv_id", "ts", "turn_idx", "role"]],
        on="conv_id",
        left_ts="anchor_ts",
        right_ts="ts",
        right_order="turn_idx",
    )
    ref["turn_idx"] = ref["turn_idx"].astype("float64")
    for got in (got_range, got_union):
        g = _canon(got)
        g["turn_idx"] = g["turn_idx"].astype("float64")
        r = _canon(ref)[g.columns]
        pd.testing.assert_frame_equal(
            g.astype(str), r.astype(str), check_dtype=False
        )


def test_asof_zero_leakage(spark, transcripts):
    """No matched_ts may exceed its anchor — strict <= (north rule)."""
    anchors = gen_anchors(spark, transcripts, per_conv=6)
    out = asof_join_union(
        anchors,
        transcripts.select("conv_id", "ts", "turn_idx"),
        on="conv_id",
        left_ts="anchor_ts",
        right_order="turn_idx",
    )
    assert out.where(F.col("matched_ts") > F.col("anchor_ts")).count() == 0


def test_asof_tie_break_latest_order_wins(spark):
    """Duplicate right ts at the anchor: greatest right_order wins."""
    left = spark.createDataFrame(
        [("c", 100)], "conv_id string, anchor_ts long"
    ).select("conv_id", F.timestamp_seconds("anchor_ts").alias("anchor_ts"))
    right = spark.createDataFrame(
        [("c", 100, 1, "a"), ("c", 100, 2, "b"), ("c", 50, 3, "x")],
        "conv_id string, ts long, turn_idx int, v string",
    ).select("conv_id", F.timestamp_seconds("ts").alias("ts"), "turn_idx", "v")
    for fn, kw in (
        (asof_join_union, {}),
        (asof_join_rangejoin, {"left_keys": ["conv_id", "anchor_ts"]}),
    ):
        row = fn(
            left, right, on="conv_id", left_ts="anchor_ts", right_order="turn_idx", **kw
        ).collect()[0]
        assert row["v"] == "b" and row["turn_idx"] == 2


@pytest.mark.parametrize(
    "fn, kw, want_a",
    [
        (asof_join_union, {}, (50, 1)),
        (asof_join_union, {"tolerance_seconds": 1000.0}, (50, 1)),
        (asof_join_nearest, {}, (120, 4)),
        (asof_join_forward, {}, (120, 4)),
        (asof_join_rangejoin, {"left_keys": ["k", "ts"]}, (50, 1)),
    ],
    ids=["union", "union_tolerance", "nearest", "forward", "rangejoin"],
)
def test_asof_null_key_anchor_matches_nothing(spark, fn, kw, want_a):
    """SQL equality on every as-of path: a null-key anchor is emitted
    with null right columns, never matched to null-keyed right rows
    (which sit both before and after it here)."""
    left = spark.createDataFrame(
        [("a", 100), (None, 100)], "k string, sec long"
    ).select("k", F.timestamp_seconds("sec").alias("ts"))
    right = spark.createDataFrame(
        [("a", 50, 1), ("a", 120, 4), (None, 50, 2), (None, 150, 3)],
        "k string, sec long, o int",
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "o")
    rows = fn(left, right, on="k", right_order="o", **kw).collect()
    out = {r["k"]: r for r in rows}
    assert len(rows) == 2 and set(out) == {"a", None}
    assert (int(out["a"]["matched_ts"].timestamp()), out["a"]["o"]) == want_a
    assert out[None]["matched_ts"] is None and out[None]["o"] is None


def test_asof_union_empty_right_and_pure_jvm_plan(spark, transcripts):
    """Union path: empty right side yields all-null matches, and the
    executed plan has ZERO Python stages and ONE shuffle exchange."""
    anchors = gen_anchors(spark, transcripts, per_conv=3)
    empty = transcripts.where(F.lit(False)).select("conv_id", "ts", "turn_idx")
    out = asof_join_union(
        anchors, empty, on="conv_id", left_ts="anchor_ts", right_order="turn_idx"
    )
    pdf = out.toPandas()
    assert len(pdf) == anchors.count() and pdf["matched_ts"].isna().all()

    import re

    # truncate input lineage (gen_anchors aggregates transcripts, which
    # adds its own exchanges) so the count isolates the join itself
    a2 = anchors.localCheckpoint(eager=True)
    r2 = transcripts.select("conv_id", "ts", "turn_idx").localCheckpoint(eager=True)
    full = asof_join_union(
        a2, r2, on="conv_id", left_ts="anchor_ts", right_order="turn_idx"
    )
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Pandas|Python", plan)
    # both union children read the cached transcripts fixture; the only
    # exchange is the window's hash partitioning on the entity key
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_union_asof_tolerance_nulls_stale_matches(spark):
    """pandas merge_asof(tolerance) semantics: the anchor row survives
    but right columns null out when the latest match is too old."""
    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.operators.asof import (
        asof_join_union,
    )

    right = spark.createDataFrame(
        [("c1", 100.0, 7.0)], "conv_id string, sec double, payload double"
    ).select("conv_id", F.timestamp_seconds("sec").alias("ts"), "payload")
    left = spark.createDataFrame(
        [("c1", 150.0), ("c1", 2000.0)], "conv_id string, sec double"
    ).select("conv_id", F.timestamp_seconds("sec").alias("anchor_ts"))

    out = {
        r["anchor_ts"].timestamp(): r
        for r in asof_join_union(
            left, right, on="conv_id", left_ts="anchor_ts",
            tolerance_seconds=300.0,
        ).collect()
    }
    assert out[150.0]["payload"] == 7.0  # 50s stale: within tolerance
    assert out[2000.0]["payload"] is None  # 1900s stale: nulled
    assert out[2000.0]["matched_ts"] is None
    assert len(out) == 2  # anchors always survive


def test_asof_nearest_directions_and_ties(spark):
    """Hand-built cases: exact match wins backward at gap 0; strictly
    closer future row beats a farther past row; equidistant ties go
    BACKWARD; entities with only-future or only-past rows still match;
    no-candidate anchors get NULLs."""
    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.operators.asof import (
        asof_join_nearest,
    )

    def tbl(rows, cols):
        return spark.createDataFrame(rows, cols).select(
            *[c for c in cols.split(", ") if not c.startswith("sec")],
            F.timestamp_seconds("sec").alias("ts"),
        )

    left = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 100), (5, 100)],
        "k long, sec long",
    ).select("k", F.timestamp_seconds("sec").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, 100, 10),  # exact: gap 0 backward
            (1, 90, 11),
            (2, 97, 20),   # past, gap 3
            (2, 102, 21),  # future, gap 2 -> wins
            (3, 95, 30),   # equidistant gap 5
            (3, 105, 31),  # -> backward (30) wins
            (4, 130, 40),  # only future
        ],
        "k long, sec long, rid long",
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "rid")
    out = {
        r["k"]: r
        for r in asof_join_nearest(
            left, right, on="k", right_order="rid"
        ).collect()
    }
    assert out[1]["rid"] == 10
    assert out[2]["rid"] == 21
    assert out[3]["rid"] == 30
    assert out[4]["rid"] == 40
    assert out[5]["rid"] is None and out[5]["matched_ts"] is None


def test_asof_forward_strict_and_tolerance(spark):
    """Next-event semantics: strictly-after (same-ts row is not a
    next event), earliest wins with least-order ties, tolerance
    nulls far matches, no-candidate anchors get NULLs."""
    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.operators.asof import (
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 100)], "k long, sec long"
    ).select("k", F.timestamp_seconds("sec").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, 100, 10),  # same ts: NOT a next event
            (1, 105, 11),  # -> winner for k=1
            (2, 103, 20),  # tie at earliest future instant:
            (2, 103, 21),  # least rid (20) wins
            (3, 9999, 30),  # beyond tolerance -> null
        ],
        "k long, sec long, rid long",
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "rid")
    out = {
        r["k"]: r
        for r in asof_join_forward(
            left, right, on="k", right_order="rid", tolerance_seconds=60.0
        ).collect()
    }
    assert out[1]["rid"] == 11
    assert out[2]["rid"] == 20
    assert out[3]["rid"] is None
    assert out[4]["rid"] is None


def test_asof_over_unmaterialized_kernel_plans_fast_and_matches_two_jobs(
    spark, tmp_path
):
    """An as-of straight over the feature kernel (no parquet in between)
    once spent 8-10 s in the optimizer's constraint propagation; it now
    optimizes in well under a second. The 3 s bound sits far from both
    sides of that gap. The fused output equals the two-job path
    (features → parquet → as-of). The fused plan sorts twice (the
    kernel, the as-of) and has 3 Window nodes (2 kernel, 1 as-of): no
    column the as-of reads needs a window of its own."""
    import time

    from dane_visual_feature_extraction_worker_spark.kernel import FEATURE_DIM
    from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
        pit_features,
    )
    from tests.test_kernel import _plan_nodes

    tmp = str(tmp_path)
    gen_transcripts(spark, n_convs=50, seed=1).write.parquet(f"{tmp}/t")
    t = spark.read.parquet(f"{tmp}/t")
    gen_anchors(spark, t, per_conv=4, seed=1).write.parquet(f"{tmp}/a")
    anchors = spark.read.parquet(f"{tmp}/a")
    payload = ["conv_id", "ts"] + [f"f{i}" for i in range(FEATURE_DIM)]

    fused = asof_join_union(
        anchors, pit_features(t).select(*payload), left_ts="anchor_ts"
    )
    t0 = time.perf_counter()
    fused._jdf.queryExecution().optimizedPlan()
    assert time.perf_counter() - t0 < 3.0
    jplan = fused._jdf.queryExecution().executedPlan()
    names = [node.nodeName() for node, _ in _plan_nodes(jplan)]
    assert (names.count("Sort"), names.count("Window")) == (2, 3), names

    pit_features(t).write.parquet(f"{tmp}/f")
    two_job = asof_join_union(
        anchors, spark.read.parquet(f"{tmp}/f").select(*payload),
        left_ts="anchor_ts",
    )

    def digest(df):
        h = F.xxhash64(*df.columns).cast("decimal(38,0)")
        return df.agg(F.count("*"), F.sum(h)).first()

    got = digest(fused)
    assert got == digest(two_job) and got[0] == anchors.count()
