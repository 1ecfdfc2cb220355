"""Deterministic synthetic transcript tables (FIXTURES.md schemas).

Spark-native generator: ``spark.range`` + built-in column expressions
only, so generation itself distributes (no driver-side loops, no
``collect``). Determinism comes from ``xxhash64`` of (seed, conv, turn)
— same rows at any parallelism, which is what lets the local[8] vs
local[32] scaling runs see byte-identical input (BASELINE.md).

The generated ``transcripts`` table is the analogue of the reference's
keyframe/spectrogram timestamp-keyed input (reference:
data_handling.py:30-33 — ``paths: DefaultDict[int, dict]`` keyed by ms
timestamp, sorted key list) reshaped to the BASELINE.json input_hint:
``(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp)``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

EPOCH = "2024-01-01 00:00:00"

_ROLES = ["user", "assistant", "tool", "system"]
_TOOLS = ["search", "code", "browser", "files", "none"]
_VOCAB = (
    "the quick brown fox jumps over lazy dog spark shuffle partition "
    "join window feature vector anchor timestamp conversation agent "
    "tool call result error retry plan execute observe think answer "
    "data table column row batch kernel merge sort scan filter"
).split()


def _h(*cols, seed: int = 42):
    """Deterministic 64-bit hash of (seed, *cols); the engine-wide
    pseudo-random source (analogue of base_util.py:205-206 hash util)."""
    return F.xxhash64(F.lit(seed), *cols)


def _uniform(h, lo: float, hi: float):
    """Map a hash column to a uniform double in [lo, hi)."""
    u = (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0
    return F.lit(lo) + u * F.lit(hi - lo)


def gen_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    avg_turns: int = 50,
    n_hot: int = 2,
    hot_factor: int = 50,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Build the transcripts table.

    - ``n_hot`` conversations get ``hot_factor``× the median turn count
      (skew coverage for the salted-join path).
    - ts gaps mix 1–30 s (intra-session) with >600 s (session breaks),
      plus occasional gap==0 duplicates (as-of tie-break coverage).
    """
    convs = spark.range(n_convs).select(
        F.format_string("conv_%05d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
    )
    ch = _h(F.col("conv_n"), seed=seed)
    convs = convs.withColumn(
        "n_turns",
        F.when(
            F.col("conv_n") < n_hot, F.lit(avg_turns * hot_factor)
        ).otherwise(
            (F.lit(max(avg_turns // 2, 1)) + F.pmod(ch, F.lit(avg_turns))).cast(
                "int"
            )
        ),
    )

    t = convs.select(
        "conv_id",
        "conv_n",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))

    th = _h(F.col("conv_n"), F.col("turn_idx"), seed=seed)

    # gap seconds: 1-30 normally; >600 every ~12th turn; 0 every ~31st
    gap = (
        F.when(F.pmod(th, F.lit(31)) == 0, F.lit(0.0))
        .when(
            F.pmod(th, F.lit(12)) == 0,
            _uniform(_h(F.col("conv_n"), F.col("turn_idx"), F.lit(1), seed=seed), 601.0, 3600.0),
        )
        .otherwise(_uniform(_h(F.col("conv_n"), F.col("turn_idx"), F.lit(2), seed=seed), 1.0, 30.0))
    )
    t = t.withColumn("gap_s", F.when(F.col("turn_idx") == 0, 0.0).otherwise(gap))

    # cumulative offset per conv (window cumsum; datagen-only shuffle)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = t.withColumn("off_s", F.sum("gap_s").over(w))
    t = t.withColumn(
        "ts",
        F.timestamp_micros(
            (
                F.unix_timestamp(F.lit(EPOCH)).cast("long") * 1_000_000
                # convs start a day apart, wrapped to a 10-year window so
                # timestamps stay inside pandas' datetime64[ns] range at
                # any conv count (ns max = year 2262)
                + (F.pmod(F.col("conv_n"), F.lit(3650)) * F.lit(86_400_000_000))
                + (F.col("off_s") * 1_000_000).cast("long")
            )
        ),
    )

    roles = F.array(*[F.lit(r) for r in _ROLES])
    tools = F.array(*[F.lit(x) for x in _TOOLS])
    vocab = F.array(*[F.lit(wd) for wd in _VOCAB])

    t = t.withColumn(
        "role", F.element_at(roles, (F.pmod(F.col("turn_idx"), F.lit(2)) + 1 + (F.pmod(th, F.lit(7)) == 0).cast("int")).cast("int"))
    )
    t = t.withColumn(
        "tool",
        F.when(
            F.pmod(_h(F.col("conv_n"), F.col("turn_idx"), F.lit(3), seed=seed), F.lit(100)) < 15,
            F.element_at(tools, (F.pmod(th, F.lit(len(_TOOLS))) + 1).cast("int")),
        ).otherwise(F.lit(None).cast("string")),
    )

    # text: 0..~60 seeded vocab words (covers empty strings)
    n_words = F.pmod(_h(F.col("conv_n"), F.col("turn_idx"), F.lit(4), seed=seed), F.lit(61))
    t = t.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_words.cast("int")),
                lambda i: F.element_at(
                    vocab,
                    (F.pmod(F.xxhash64(F.lit(seed), F.col("conv_n"), F.col("turn_idx"), i), F.lit(len(_VOCAB))) + 1).cast("int"),
                ),
            ),
            " ",
        ),
    )

    out = t.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    if partitions:
        out = out.repartition(partitions, "conv_id")
    return out


def gen_anchors(
    spark: SparkSession, transcripts: DataFrame, per_conv: int = 10, seed: int = 42
) -> DataFrame:
    """As-of left side (FIXTURES.md §2): anchors at, between, before and
    after turn timestamps. Derived from per-conv ts bounds so coverage of
    the `<=` boundary, zero-fill-before-first, and after-last cases is
    guaranteed (mirrors missing-modality zero-fill data_handling.py:93-99).
    """
    bounds = transcripts.groupBy("conv_id").agg(
        F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max")
    )
    k = spark.range(per_conv).select(F.col("id").alias("k"))
    a = bounds.crossJoin(F.broadcast(k))
    h = F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("k"))
    span = F.col("ts_max").cast("double") - F.col("ts_min").cast("double")
    # k==0 -> before first; k==1 -> exactly first ts; k==2 -> after last
    anchor = (
        F.when(F.col("k") == 0, F.col("ts_min").cast("double") - 100.0)
        .when(F.col("k") == 1, F.col("ts_min").cast("double"))
        .when(F.col("k") == 2, F.col("ts_max").cast("double") + 100.0)
        .otherwise(
            F.col("ts_min").cast("double")
            + (F.pmod(h, F.lit(10_000)).cast("double") / 10_000.0) * span
        )
    )
    return a.select(
        "conv_id", F.timestamp_seconds(anchor).alias("anchor_ts")
    )


def gen_intervals(
    spark: SparkSession, transcripts: DataFrame, per_conv: int = 5, seed: int = 42
) -> DataFrame:
    """Shot-boundary analogue (FIXTURES.md §3): overlapping intervals and
    gaps per conv (reference interval table: data_handling.py:114-119;
    overlap-first-wins data_handling.py:124-126)."""
    bounds = transcripts.groupBy("conv_id").agg(
        F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max")
    )
    k = spark.range(per_conv).select(F.col("id").alias("k"))
    a = bounds.crossJoin(F.broadcast(k))
    h1 = F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("k"), F.lit(1))
    h2 = F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("k"), F.lit(2))
    span = F.col("ts_max").cast("double") - F.col("ts_min").cast("double")
    s = F.col("ts_min").cast("double") + (
        F.pmod(h1, F.lit(1000)).cast("double") / 1000.0
    ) * span * 0.8
    dur = 1.0 + (F.pmod(h2, F.lit(1000)).cast("double") / 1000.0) * span * 0.4
    return a.select(
        "conv_id",
        F.timestamp_seconds(s).alias("start_ts"),
        F.timestamp_seconds(s + dur).alias("end_ts"),
        F.format_string("seg_%d", F.col("k")).alias("label"),
    )

