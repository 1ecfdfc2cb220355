"""Feature kernel: 32 point-in-time features per transcript turn.

The reference's kernel consumes deterministic batches of 256 items in
key order, runs a vectorized forward pass, and emits a positional row
``[timestamp, shot_start, shot_end, features...]`` per item
(reference: feature_extraction.py:17-32 ``apply_model``; batch iteration
:75-81; batch size 256 data_handling.py:111-112; output layout confirmed
by tests/unit/feature_extraction_test.py:56-60).

Ours replaces the torch forward pass with deterministic, model-free
feature math (FIXTURES.md §5) so golden fixtures reproduce on any
machine. There is one engine implementation and one oracle:

- ``feature_vectors_windows``: the engine. A JVM-only plan in two
  stages split at its exchange:
  - ``turn_rows``, the row stage: text features computed map-side
    (plain columns and an ``array<float>`` bag). One compiled JVM
    function, ``token_bag`` (``TokenBag.java``, compiled in the driver
    by Spark's bundled Janino), splits, hashes and counts each turn's
    tokens in one pass. It is row-local, so ``CheckpointedRunner``
    stages its output once per job;
  - ``window_features``: ONE hash exchange on the entity key, one
    sort, every output column a running-window prefix aggregate over
    (conv_id ORDER BY ts, turn_idx).
  No Python stage, every Project in whole-stage codegen. Its select
  lists do not depend on the input, so they are built and sent to the
  JVM once per process (``_text_columns``, ``_window_columns``) and a
  call only replays the plan's ~10 DataFrame calls;
- ``compute_features_numeric``: the numpy oracle over
  ``with_text_features`` rows. It runs the same sequential double
  arithmetic, so the engine must match it bit for bit
  (tests/test_kernel.py, pitbench's ``pandas_twin`` gate).

Both read only rows [0..i] for every output column of row i — prefix
sums and running stats — which is the zero-temporal-leakage contract:
cutting a conversation after row i leaves rows [0..i] unchanged. Both
refuse a null ``conv_id``: the engine with a Spark runtime error from
its map-side projection, the oracle with ``ValueError``.

Output: 37 columns per (conv_id, ts) anchor, ``conv_id, turn_idx, ts,
session_id, session_start`` (the first ts of the row's session so far)
and the feature vector (D = 32 float32) from history rows with
ts <= anchor:
  f0  n_turns_so_far            f1  cum_text_chars
  f2  mean_text_chars           f3  text_chars_this_turn
  f4  gap_seconds_from_prev     f5  mean_gap_seconds (exact: the
      telescoping sum of gaps is ts_i - ts_0, accumulated in integer
      microseconds — order-independent, so every engine and the SQL
      oracle agree bit-for-bit; same trick as integer cents in
      salted_running_sum)
  f6  max_gap_seconds           f7  session_idx (gap>1800 boundaries)
  f8..f11   role one-hot counts so far (user/assistant/tool/system)
  f12 tool_calls_so_far         f13 turns_in_current_session
  f14 seconds_since_session_start
  f15 words_this_turn
  f16..f31  16-dim hashed token bag of current turn text (token ->
            bucket = crc32(utf8(token)) mod 16, count, l2-normalized,
            all in ``token_bag``;
            crc32 because the JVM computes it ~30% cheaper than md5 on
            the flagship (measured, BENCH/BASELINE.md r5) — the DuckDB
            oracle replays the SAME CRC-32 with a table-driven
            list_reduce over the token bytes, so the bag is fully
            hash-gated anyway (driver_queries._CRC32_SQL))
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import weakref
import zipfile
from importlib import resources

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from py4j.java_gateway import JavaObject
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql.classic.column import _to_java_column, _to_seq

FEATURE_DIM = 32
SESSION_GAP_S = 1800.0
_ROLE_IDX = {"user": 0, "assistant": 1, "tool": 2, "system": 3}
_HASH_BUCKETS = 16


def with_text_features(transcripts: DataFrame) -> DataFrame:
    """JVM-side text features: chars, words, l2-normalized 16-bucket
    token bag (bag0..bag15), role_code, has_tool — one row per turn,
    the input of ``compute_features_numeric``.

    The engine's own row stage (``turn_rows``, the same cached
    Columns) with ``__bag`` expanded, so the oracle twin reads the exact
    values the window plan computes."""
    tf = turn_rows(transcripts)
    return tf.select(
        *[c for c in tf.columns if c not in ("__ck", "__bag")],
        *[F.col("__bag")[b].alias(f"bag{b}") for b in range(_HASH_BUCKETS)],
    )


def compute_features_numeric(pdf: pd.DataFrame) -> pd.DataFrame:
    """The numpy oracle: the 32 features plus the session id and start
    from ``with_text_features`` rows, as prefix ops over each conversation's
    slice of one (conv_id, ts, turn_idx) sort. Same output columns as
    ``feature_vectors_windows``, and the same refusal of a null
    ``conv_id``."""
    if pdf["conv_id"].isna().any():
        raise ValueError("compute_features_numeric: null conv_id in the input")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(pdf)
    if n == 0:
        empty = {
            "conv_id": pd.Series(dtype=object),
            "turn_idx": pd.Series(dtype="int32"),
            "ts": pd.Series(dtype="datetime64[us]"),
            "session_id": pd.Series(dtype="int64"),
            "session_start": pd.Series(dtype="datetime64[us]"),
        }
        for i in range(FEATURE_DIM):
            empty[f"f{i}"] = pd.Series(dtype="float32")
        return pd.DataFrame(empty)
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    ts_s = ts_us / 1e6
    chars = pdf["chars"].to_numpy()
    words = pdf["words"].to_numpy()
    role_code = pdf["role_code"].to_numpy()
    has_tool = pdf["has_tool"].to_numpy(dtype=np.float64)
    bag = np.column_stack([pdf[f"bag{b}"].to_numpy() for b in range(_HASH_BUCKETS)])

    codes, _ = pd.factorize(pdf["conv_id"], sort=False)
    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    ends = np.r_[starts[1:], n]

    feats = np.empty((n, FEATURE_DIM), dtype=np.float64)
    sess_all = np.empty(n, dtype=np.int64)
    sess_start_us = np.empty(n, dtype=np.int64)
    role_eq = {r: (role_code == j).astype(np.float64) for r, j in _ROLE_IDX.items()}
    for a, b in zip(starts, ends):
        m = b - a
        tss = ts_s[a:b]
        gaps = np.diff(tss, prepend=tss[0])
        gaps[0] = 0.0
        idx1 = np.arange(1, m + 1, dtype=np.float64)
        cum_chars = np.cumsum(chars[a:b])
        # exact mean gap: sum of gaps telescopes to ts_i - ts_0, kept in
        # integer microseconds (order-independent -> oracle-gateable)
        cum_gap_s = (ts_us[a:b] - ts_us[a]).astype(np.float64) / 1e6
        new_sess = (gaps > SESSION_GAP_S).astype(np.int64)
        new_sess[0] = 1
        sess_id = np.cumsum(new_sess) - 1
        idx = np.arange(m)
        sess_start = np.maximum.accumulate(np.where(new_sess == 1, idx, 0))
        out = feats[a:b]
        out[:, 0] = idx1
        out[:, 1] = cum_chars
        out[:, 2] = cum_chars / idx1
        out[:, 3] = chars[a:b]
        out[:, 4] = gaps
        out[:, 5] = cum_gap_s / idx1
        out[:, 6] = np.maximum.accumulate(gaps)
        out[:, 7] = sess_id
        for _r, j in _ROLE_IDX.items():
            out[:, 8 + j] = np.cumsum(role_eq[_r][a:b])
        out[:, 12] = np.cumsum(has_tool[a:b])
        out[:, 13] = idx - sess_start + 1
        out[:, 14] = tss - tss[sess_start]
        out[:, 15] = words[a:b]
        out[:, 16:] = bag[a:b]
        sess_all[a:b] = sess_id
        # exact int64 µs, no float roundtrip
        sess_start_us[a:b] = ts_us[a:b][sess_start]

    f32 = feats.astype(np.float32)
    cols = {
        "conv_id": pdf["conv_id"],
        "turn_idx": pdf["turn_idx"].astype("int32"),
        "ts": pdf["ts"],
        "session_id": sess_all,
        "session_start": pd.Series(sess_start_us).astype("datetime64[us]"),
    }
    for i in range(FEATURE_DIM):
        cols[f"f{i}"] = f32[:, i]
    return pd.DataFrame(cols)


def with_feature_array(df: DataFrame) -> DataFrame:
    """Collapse flat f0..f31 back into ``features array<float>``
    (fixture/golden-comparison form, FIXTURES.md §5). The kernel emits
    flat columns: parquet encodes flat floats ~3x faster and readers
    can prune single features."""
    arr = F.array(*[F.col(f"f{i}") for i in range(FEATURE_DIM)]).alias("features")
    keep = [c for c in df.columns if not (c.startswith("f") and c[1:].isdigit())]
    return df.select(*keep, arr)


def _jseqs(*selects: list[Column | str]) -> tuple[JavaObject, ...]:
    """Each select list as a JVM Seq of Columns. The Seq holds the JVM
    Columns, so a cached one is all ``_select`` needs: converting a list
    again costs one py4j round trip per element."""
    sc = SparkContext._active_spark_context
    return tuple(_to_seq(sc, cols, _to_java_column) for cols in selects)


def _select(df: DataFrame, jcols: JavaObject) -> DataFrame:
    """``df.select`` of a cached JVM Seq of Columns."""
    return DataFrame(df._jdf.select(jcols), df.sparkSession)


def _token_bag_source() -> str:
    """``TokenBag.java``, read as a package resource: spark-submit
    imports this package from the ``--py-files`` zip, where the file has
    no path of its own."""
    return resources.files(__package__).joinpath("TokenBag.java").read_text("utf-8")


@functools.cache
def _token_bag() -> tuple[JavaObject, str]:
    """``TokenBag.java`` compiled in the driver JVM by the Janino compiler
    Spark bundles (no JDK needed): the UDF ``token_bag`` and the path of
    a jar holding its class, for the executors. Built once per process,
    on the first kernel build."""
    sc = SparkContext._active_spark_context
    jvm, gateway = sc._jvm, sc._gateway
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.cook(_token_bag_source())
    jar_dir = tempfile.mkdtemp(prefix="pit-token-bag-")
    atexit.register(shutil.rmtree, jar_dir, True)
    jar = os.path.join(jar_dir, "token_bag.jar")
    code = compiler.getBytecodes()
    with zipfile.ZipFile(jar, "w") as z:
        for name in code.keySet():
            z.writestr(name.replace(".", "/") + ".class", bytes(code.get(name)))
    bag = compiler.getClassLoader().loadClass("pitfeatures.TokenBag")
    # the static ``udf()`` picks functions.udf(UDF1, DataType); py4j
    # would pick the untyped udf(Object, DataType), which Spark refuses
    udf = bag.getMethod("udf", gateway.new_array(jvm.java.lang.Class, 0))
    return udf.invoke(None, gateway.new_array(jvm.java.lang.Object, 0)), jar


# SparkContexts whose executors can load the token bag's class
_jar_added: weakref.WeakSet = weakref.WeakSet()


@functools.cache
def _text_columns() -> tuple[JavaObject, ...]:
    """The two selects of ``turn_rows``' projection, built once per
    process and sent to the JVM once: they are unresolved expressions
    that do not depend on the input, and building them costs hundreds
    of py4j round trips."""
    udf, _ = _token_bag()
    sc = SparkContext._active_spark_context
    roles = (
        F.when(F.col("role") == "user", 0)
        .when(F.col("role") == "assistant", 1)
        .when(F.col("role") == "tool", 2)
        .when(F.col("role") == "system", 3)
        .otherwise(-1)
    )
    keys = ["__ck", "conv_id", "turn_idx", "ts", "role_code", "has_tool", "chars"]
    bagged = [
        F.when(
            F.col("conv_id").isNull(),
            F.raise_error(F.lit("pit_features: null conv_id in the input")),
        )
        .otherwise(F.xxhash64("conv_id"))
        .alias("__ck"),
        "conv_id",
        "turn_idx",
        "ts",
        roles.alias("role_code"),
        F.col("tool").isNotNull().cast("int").alias("has_tool"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double").alias("chars"),
        Column(udf.apply(_to_seq(sc, ["text"], _to_java_column))).alias("__tb"),
    ]
    tb = F.col("__tb")
    split = [
        *keys,
        tb[0].alias("words"),
        F.slice(tb, 2, _HASH_BUCKETS).cast("array<float>").alias("__bag"),
    ]
    return _jseqs(bagged, split)


def turn_rows(transcripts: DataFrame) -> DataFrame:
    """The kernel's row stage: the map-side projection of the window
    plan, every per-row text derivation done once per row before the
    exchange, as plain columns plus the bag as one array, so the shuffle
    moves no text/role/tool strings. Row-local, so
    ``CheckpointedRunner`` runs it once per job, when it stages its
    input, and each bucket runs only ``window_features``.

    - ``__ck`` = xxhash64(conv_id); a null ``conv_id`` raises here
      (a lazy ``raise_error``, no extra Spark job) rather than joining
      the other nulls as one conversation;
    - ``chars`` (double), ``role_code`` (-1 for an unknown role),
      ``has_tool``;
    - ``__tb`` = ``token_bag(text)`` (``TokenBag.java``): one compiled
      pass over each text that splits it on Unicode White_Space, buckets
      each token by crc32(utf8) mod 16 and counts, giving ``[words,
      bag0 .. bag15]``, the bag l2-normalized in double;
    - ``words`` = ``__tb[0]`` and ``__bag`` = the other 16 as
      ``array<float>``, the output precision.

    Output: ``__ck, conv_id, turn_idx, ts, role_code, has_tool, chars,
    words, __bag``. Two selects: Catalyst does not collapse a Project
    whose non-trivial output the next one reads more than once, so the
    token bag runs once per row. The first call in a SparkContext adds
    the token bag's jar to it, so its executors can load the class."""
    sc = transcripts.sparkSession.sparkContext
    text_columns = _text_columns()
    if sc not in _jar_added:
        sc._jsc.addJar(_token_bag()[1])
        _jar_added.add(sc)
    df = transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    for jcols in text_columns:
        df = _select(df, jcols)
    return df


def window_features(rows: DataFrame) -> DataFrame:
    """The kernel's windowed stage over ``turn_rows`` output: ONE hash
    exchange on ``__ck``, one sort, and three selects of prefix
    aggregates (see ``feature_vectors_windows``)."""
    s1, s2, out = _window_columns()
    df = rows.repartition("__ck").sortWithinPartitions("__ck", "conv_id", "ts", "turn_idx")
    return _select(_select(_select(df, s1), s2), out)


def feature_vectors_windows(transcripts: DataFrame) -> DataFrame:
    """The engine kernel, ``window_features(turn_rows(transcripts))``:
    the 32 features as window expressions — NO Python stage at all.

    Every output column is a per-conversation prefix op (cumsum /
    running max / first) over rows sorted by (ts, turn_idx), so a row
    never reads a later one; the bag columns f16..f31 are read straight
    from ``__bag[b]``. ``lag`` runs once, in ``__gap``, which also
    flags a session start (first row, or gap > SESSION_GAP_S). Over the
    same running window, the sum of that flag numbers sessions and its
    running ``max(when(flag, ...))`` gives the current session's first
    row number ``__s_rn`` and first ts ``session_start``: f13 =
    ``__rn`` − ``__s_rn`` + 1 and f14 = ``__ts_s`` − its epoch
    seconds. A running-frame window aggregate accumulates rows one at
    a time in sort order — the SAME sequential double arithmetic as the
    numpy kernel's cumsum — so the float32 outputs are bit-identical to
    ``compute_features_numeric`` (asserted in tests/test_kernel.py).

    Plan: ONE shuffle (hash on conv_id), one sort and two Window
    nodes — ``lag``/``row_number``, then the running aggregates — on
    the same (conv_id ORDER BY ts, turn_idx) spec. Removing the Arrow
    transfer + Python workers is what lifts multi-core scaling
    efficiency (BENCH/BASELINE.md): whole-stage codegen end to end.

    Text is tokenized, counted and normalized map-side (``turn_rows``),
    so the exchange + sort move four plain columns and the 16-float bag
    instead of the raw text/role/tool strings. The plan holds no
    higher-order function: ``token_bag`` runs once per row before the
    shuffle, and every Project runs in whole-stage codegen
    (tests/test_kernel.py).

    The select lists come from ``_text_columns`` and
    ``_window_columns``, built and sent to the JVM on the first call in
    a process; later calls, on any input schema, reuse the JVM Seqs and
    only replay the plan's DataFrame calls.

    ``__ck`` = xxhash64(conv_id) leads every sort key: string conv_ids
    share long prefixes, which defeats the radix/prefix comparator — a
    distinct 8-byte numeric prefix restores it. conv_id stays in the
    partition spec, so a (astronomically unlikely) hash collision
    still cannot merge two conversations.
    """
    return window_features(turn_rows(transcripts))


@functools.cache
def _window_columns() -> tuple[JavaObject, ...]:
    """The three selects of ``window_features``, built once per process
    and sent to the JVM once, like ``_text_columns``."""
    from pyspark.sql import Window

    from dane_visual_feature_extraction_worker_spark.functions import epoch_seconds

    w = Window.partitionBy("__ck", "conv_id").orderBy("ts", "turn_idx")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    # epoch micros / 1e6 as double, same value path as the numpy kernel
    # (route via epoch_seconds: parquet reads give TIMESTAMP_NTZ, which
    # cannot cast to double directly)
    ts_s = epoch_seconds("ts")
    gap = F.coalesce(ts_s - F.lag(ts_s, 1).over(w), F.lit(0.0))
    rn = F.row_number().over(w).cast("double")

    s1 = [
        "__ck",
        "conv_id",
        "turn_idx",
        "ts",
        "role_code",
        "has_tool",
        # never null, but a parquet read of staged rows declares every
        # column nullable, and so does ``turn_rows`` for ``words``; the
        # coalesce keeps f3/f15 required in the output
        F.coalesce(F.col("chars"), F.lit(0.0)).alias("chars"),
        F.coalesce(F.col("words"), F.lit(0.0)).alias("words"),
        "__bag",
        ts_s.alias("__ts_s"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__ts_us"),
        gap.alias("__gap"),
        rn.alias("__rn"),
    ]
    # a session starts at the conv's first row or after a gap > threshold
    new_session = (F.col("__rn") == 1) | (F.col("__gap") > SESSION_GAP_S)
    s2 = [
        "*",
        (F.sum(new_session.cast("int")).over(wrun) - 1)
        .cast("bigint")
        .alias("session_id"),
        # the current session's first row: the last flagged one so far
        F.max(F.when(new_session, F.col("__rn"))).over(wrun).alias("__s_rn"),
        F.max(F.when(new_session, F.col("ts"))).over(wrun).alias("session_start"),
        F.sum("chars").over(wrun).alias("__cum_chars"),
        # f5 numerator: exact telescoping gap sum in integer micros
        F.first("__ts_us").over(wrun).alias("__ts0_us"),
        F.max("__gap").over(wrun).alias("__max_gap"),
        *[
            F.sum((F.col("role_code") == j).cast("double")).over(wrun).alias(f"__r{j}")
            for j in range(4)
        ],
        F.sum(F.col("has_tool").cast("double")).over(wrun).alias("__cum_tool"),
    ]
    ff = F.col  # shorthand
    feats = [
        ff("__rn").cast("float").alias("f0"),
        ff("__cum_chars").cast("float").alias("f1"),
        (ff("__cum_chars") / ff("__rn")).cast("float").alias("f2"),
        ff("chars").cast("float").alias("f3"),
        ff("__gap").cast("float").alias("f4"),
        (
            (ff("__ts_us") - ff("__ts0_us")).cast("double") / F.lit(1e6) / ff("__rn")
        )
        .cast("float")
        .alias("f5"),
        ff("__max_gap").cast("float").alias("f6"),
        ff("session_id").cast("float").alias("f7"),
        *[ff(f"__r{j}").cast("float").alias(f"f{8 + j}") for j in range(4)],
        ff("__cum_tool").cast("float").alias("f12"),
        (ff("__rn") - ff("__s_rn") + 1).cast("float").alias("f13"),
        (ff("__ts_s") - epoch_seconds("session_start")).cast("float").alias("f14"),
        ff("words").cast("float").alias("f15"),
        *[ff("__bag")[b].alias(f"f{16 + b}") for b in range(_HASH_BUCKETS)],
    ]
    out = [
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts",
        "session_id",
        "session_start",
        *feats,
    ]
    return _jseqs(s1, s2, out)
