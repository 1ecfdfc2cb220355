"""Flagship pipeline: point-in-time features over transcript tables.

The end-to-end job the north rule names: for every (conv_id, ts) anchor,
an as-of matched state + a D=32 feature vector computed from history
only, sessionized, with the positional output layout mirroring the
reference's ``[timestamp, shot_start, shot_end, features...]`` matrix
(feature_extraction.py:26-31): here the 37 columns
``(conv_id, turn_idx, ts, session_id, session_start, f0..f31)``, or
``features`` in place of f0..f31 in array form. There is no
``shot_end`` twin: the reference read it from a boundary table known
in advance, while a live session's end is not known at ``ts``, and
every column here reads only rows at or before its own.

One physical plan: read → text features computed map-side → ONE
entity-key shuffle → one sort → prefix aggregates in two Window nodes
over (conv_id ORDER BY ts, turn_idx) → sink. No Python stage:
whole-stage codegen end to end, so throughput scales with cores
(BENCH/BASELINE.md). Its output is bit-identical to the numpy oracle
``kernel.compute_features_numeric`` (tests/test_kernel.py).

Each pipeline carries its split at the exchange as two attributes,
``rows`` (the row-local stage, ``kernel.turn_rows``) and ``windows``
(the rest), with ``pipeline(df) == pipeline.windows(pipeline.rows(df))``.
``CheckpointedRunner`` stages ``rows(source)`` once per job and runs
only ``windows`` over each bucket, so a restart does not tokenize its
pending turns again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dane_visual_feature_extraction_worker_spark.kernel import (
    turn_rows,
    window_features,
    with_feature_array,
)


def pit_features(transcripts: DataFrame) -> DataFrame:
    """Features, session id and session start for every (conv_id, ts)
    anchor."""
    return window_features(turn_rows(transcripts))


def _window_features_array(rows: DataFrame) -> DataFrame:
    return with_feature_array(window_features(rows))


def pit_features_array(transcripts: DataFrame) -> DataFrame:
    """Array-form output (fixture schema); flat form is the scale sink."""
    return _window_features_array(turn_rows(transcripts))


pit_features.rows = pit_features_array.rows = turn_rows
pit_features.windows = window_features
pit_features_array.windows = _window_features_array
