"""Feature kernel: hand-computed values, golden parity, zero leakage."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from dane_visual_feature_extraction_worker_spark.kernel import (
    FEATURE_DIM,
    with_text_features,
)
from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
    pit_features,
    pit_features_array,
)
from tests.reference_impl import features_ref, sort_transcripts, text_features_ref

FCOLS = [f"f{i}" for i in range(FEATURE_DIM)]


def _tiny_conv() -> pd.DataFrame:
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:00:10", "2024-01-01 01:00:00"]
    )
    return pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": np.array([0, 1, 2], dtype="int32"),
            "role": ["user", "assistant", "user"],
            "text": ["hello world", "", "bye"],
            "tool": [None, "search", None],
            "ts": ts,
        }
    )


def _assert_hand_computed(out: pd.DataFrame) -> None:
    f = out[FCOLS].to_numpy()
    assert f.shape == (3, FEATURE_DIM)
    # f0: turns so far
    assert list(f[:, 0]) == [1.0, 2.0, 3.0]
    # f1 cum chars: 11, 11, 14 ; f3 chars this turn
    assert list(f[:, 1]) == [11.0, 11.0, 14.0]
    assert list(f[:, 3]) == [11.0, 0.0, 3.0]
    # f4 gaps: 0, 10, 3590
    assert list(f[:, 4]) == [0.0, 10.0, 3590.0]
    # session boundary: 3590 > 1800 -> sessions [0, 0, 1]
    assert list(out["session_id"]) == [0, 0, 1]
    # role one-hot cumulative: user counts f8 = 1,1,2
    assert list(f[:, 8]) == [1.0, 1.0, 2.0]
    # tool calls so far f12 = 0,1,1
    assert list(f[:, 12]) == [0.0, 1.0, 1.0]
    # turns in session f13 = 1,2,1 ; secs in session f14 = 0,10,0
    assert list(f[:, 13]) == [1.0, 2.0, 1.0]
    assert list(f[:, 14]) == [0.0, 10.0, 0.0]
    # words this turn f15 = 2,0,1
    assert list(f[:, 15]) == [2.0, 0.0, 1.0]
    # hashed bag is l2-normalized when text nonempty
    assert abs(np.linalg.norm(f[0, 16:]) - 1.0) < 1e-6
    assert np.linalg.norm(f[1, 16:]) == 0.0
    # session starts: 00:00:00 twice, then the lone 01:00:00 turn
    t0, _, t2 = _tiny_conv()["ts"]
    assert list(out["session_start"]) == [t0, t0, t2]


def test_kernel_hand_computed(spark):
    """The same hand-computed values from the oracle and the engine."""
    _assert_hand_computed(features_ref(_tiny_conv()))
    got = pit_features(spark.createDataFrame(_tiny_conv())).toPandas()
    _assert_hand_computed(got.sort_values("turn_idx").reset_index(drop=True))


def test_kernel_distributed_matches_reference(transcripts, transcripts_pd):
    got = pit_features_array(transcripts).toPandas()
    got = got.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    ref = features_ref(sort_transcripts(transcripts_pd))
    # keys + text-order invariants: exact (feature_extraction_test.py:56)
    pd.testing.assert_series_equal(got["conv_id"], ref["conv_id"])
    pd.testing.assert_series_equal(
        got["turn_idx"].astype("int64"), ref["turn_idx"].astype("int64")
    )
    assert (got["session_id"].to_numpy() == ref["session_id"].to_numpy()).all()
    # features: allclose (feature_extraction_test.py:58-60)
    gf = np.stack(got["features"].to_numpy())
    rf = ref[FCOLS].to_numpy()
    assert gf.shape == rf.shape == (len(ref), FEATURE_DIM)
    assert np.allclose(gf, rf, rtol=1e-6, atol=1e-6)
    # kernel-computed session start == groupby min of ts
    lo = got.groupby(["conv_id", "session_id"])["ts"].transform("min")
    assert (got["session_start"] == lo).all()


def test_zero_temporal_leakage(spark, transcripts, transcripts_pd):
    """Perturb/remove everything after an anchor: features at and before
    the anchor must be bit-identical (north rule). And prefix
    invariance on every output column: the kernel over each
    conversation cut after one of its turns equals the kernel over the
    whole input restricted to the cut."""
    t = sort_transcripts(transcripts_pd)
    conv = t["conv_id"].iloc[0]
    g = t[t["conv_id"] == conv]
    anchor = g["ts"].iloc[len(g) // 2]

    full = features_ref(g)
    truncated = features_ref(g[g["ts"] <= anchor])
    n = len(truncated)
    ff = full[FCOLS].to_numpy()[:n]
    tf = truncated[FCOLS].to_numpy()
    assert (ff == tf).all()  # bit-identical, not just allclose

    # and through the distributed path: mutate future rows wildly
    mutated = transcripts.withColumn(
        "text",
        F.when(F.col("ts") > F.lit(anchor), F.lit("LEAKED " * 50)).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "role",
        F.when(F.col("ts") > F.lit(anchor), F.lit("system")).otherwise(F.col("role")),
    )
    base = (
        pit_features(transcripts)
        .where((F.col("conv_id") == conv) & (F.col("ts") <= F.lit(anchor)))
        .toPandas()
        .sort_values(["ts", "turn_idx"])
        .reset_index(drop=True)
    )
    mut = (
        pit_features(mutated)
        .where((F.col("conv_id") == conv) & (F.col("ts") <= F.lit(anchor)))
        .toPandas()
        .sort_values(["ts", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (base[FCOLS].to_numpy() == mut[FCOLS].to_numpy()).all()

    # cut conversation c after its row pmod(xxhash64(c), n_c) + 1 in
    # (ts, turn_idx) order
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id")
    cuts = (
        transcripts.select(
            "conv_id",
            F.col("ts").alias("__cut"),
            F.row_number().over(w.orderBy("ts", "turn_idx")).alias("__rn"),
            (F.pmod(F.xxhash64("conv_id"), F.count("*").over(w)) + 1).alias("__k"),
        )
        .where(F.col("__rn") == F.col("__k"))
        .select("conv_id", "__cut")
    )

    def cut(df):
        return (
            df.join(cuts, "conv_id")
            .where(F.col("ts") <= F.col("__cut"))
            .drop("__cut")
        )

    keys = ["conv_id", "ts", "turn_idx"]
    got, want = (
        df.toPandas().sort_values(keys, kind="mergesort").reset_index(drop=True)
        for df in (pit_features(cut(transcripts)), cut(pit_features(transcripts)))
    )
    assert 0 < len(got) < transcripts.count()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), f"column {c} differs"


def test_per_turn_text_equality_under_stable_order(transcripts, transcripts_pd):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering between engine and reference."""
    got = (
        transcripts.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    ref = transcripts_pd.sort_values(["conv_id", "turn_idx"], kind="mergesort")[
        ["conv_id", "turn_idx", "text"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref)


def _edge_rows(spark, schema):
    """Exotic whitespace, separators that are not whitespace, null
    text, unknown/null roles, a tie on ts and session breaks at the
    exact gap threshold, as rows of the transcript schema."""
    t0 = pd.Timestamp("2024-03-01 12:00:00")
    rows = [
        ("edge_a", 0, "user", "nbsp\u00a0separated\u00a0tokens", None, 0),
        ("edge_a", 1, "assistant", "line\u2028sep and\u2029para", "calc", 5),
        ("edge_a", 2, "bot", "ideographic\u3000space\u3000here", None, 5),
        ("edge_a", 3, None, "nel\u0085break tab\tmix", None, 4000),
        ("edge_a", 4, "tool", None, "search", 4010),
        ("edge_b", 0, "system", " \u00a0\u3000", None, 0),
        ("edge_b", 1, None, None, None, 60),
        ("edge_b", 2, "user", "plain ascii words", None, 61),
        # U+001C..U+001F: str.isspace() is true, Unicode White_Space is not
        ("edge_c", 0, "user", "a\x1cb c", None, 0),
        ("edge_c", 1, "user", "x\x1fy", None, 10),
        # a gap of exactly SESSION_GAP_S stays in the session; 1 µs more
        # starts one, whose first ts is shared by the next turn
        # (f13 = 1, 2; f14 = 0, 0)
        ("edge_d", 0, "user", "start", None, 0),
        ("edge_d", 1, "assistant", "same session", None, 1800),
        ("edge_d", 2, "user", "new session", None, 3600.000001),
        ("edge_d", 3, "assistant", "tied first ts", None, 3600.000001),
        ("edge_d", 4, "user", "later", None, 3605),
    ]
    pdf = pd.DataFrame(
        [(c, i, r, x, tl, t0 + pd.Timedelta(seconds=d)) for c, i, r, x, tl, d in rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    return spark.createDataFrame(pdf).select(
        *[F.col(f.name).cast(f.dataType) for f in schema]
    )


def test_window_strategy_bit_identical_and_pure_jvm(spark, transcripts):
    """The pure-Catalyst window plan must reproduce the numpy oracle
    ``compute_features_numeric`` BIT-FOR-BIT on every output column
    (same sequential double arithmetic in the same order), both over
    the JVM text features and over the Python text step of
    ``features_ref``, with zero Python stages, one exchange, one sort
    and two Window nodes."""
    import re

    from dane_visual_feature_extraction_worker_spark.kernel import (
        compute_features_numeric,
        with_text_features,
    )

    t = transcripts.unionByName(_edge_rows(spark, transcripts.schema))
    keys = ["conv_id", "ts", "turn_idx"]
    got = (
        pit_features(t)
        .toPandas()
        .sort_values(keys, kind="mergesort")
        .reset_index(drop=True)
    )
    oracle = compute_features_numeric(with_text_features(t).toPandas())
    python_text = features_ref(t.toPandas())
    for want in (oracle, python_text):
        assert list(got.columns) == list(want.columns)
        for c in got.columns:
            gv, wv = got[c].to_numpy(), want[c].to_numpy()
            assert (gv == wv).all(), f"column {c} differs"
    d = got[got["conv_id"] == "edge_d"]
    assert d["session_id"].tolist() == [0, 0, 1, 1, 1]
    assert d["f13"].tolist()[:4] == [1, 2, 1, 2]
    assert d["f14"].tolist()[:4] == [0, 1800, 0, 0]

    src = t.localCheckpoint(eager=True)
    jplan = pit_features(src)._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    assert not re.search(r"Pandas|Python", plan)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # every column reads the one running window: one sort, and the
    # lag/row_number Window under the running-aggregate Window
    names = [node.nodeName() for node, _ in _plan_nodes(jplan)]
    assert (names.count("Sort"), names.count("Window")) == (1, 2), names
    # the text features are computed before the exchange: no raw
    # text/role/tool string crosses it
    shipped = set(re.findall(r"(\w+)#\d+", _exchange_output(jplan)))
    assert "__bag" in shipped and not shipped & {"text", "role", "tool"}


def _plan_nodes(jplan):
    """(node, run by whole-stage codegen?) for every node of a physical
    plan, through adaptive-plan wrappers and query stages. Codegen
    stages show only in a plan that has run."""
    stack = [(jplan, False)]
    while stack:
        node, in_codegen = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append((node.executedPlan(), False))
            continue
        if name.endswith("QueryStage"):
            stack.append((node.plan(), False))
            continue
        if name.startswith("WholeStageCodegen"):
            in_codegen = True
        elif name == "InputAdapter":
            in_codegen = False
        yield node, in_codegen
        kids = node.children()
        stack.extend((kids.apply(i), in_codegen) for i in range(kids.size()))


def _exchange_output(jplan) -> str:
    """The output attributes of the one Exchange in a physical plan."""
    found = [
        node.output().toString()
        for node, _ in _plan_nodes(jplan)
        if node.nodeName() == "Exchange"
    ]
    assert len(found) == 1, found
    return found[0]


def test_every_kernel_project_runs_in_codegen(transcripts):
    """Every Project of the executed kernel plan runs in whole-stage
    codegen, the tokenizer's included: before the token bag, its
    ``transform`` over the tokens was interpreted. The optimized plan
    calls ``token_bag`` once per row (Catalyst does not inline it into
    its 17 reads) and holds no lambda function, whose variable is named
    from PySpark's process-wide counter (``x_1``, ``x_2``), so the plan
    text of one pipeline does not depend on what the process built
    before it."""
    out = pit_features(transcripts.localCheckpoint(eager=True))
    out.collect()
    qe = out._jdf.queryExecution()
    interpreted = [
        node.output().toString()
        for node, in_codegen in _plan_nodes(qe.executedPlan())
        if node.nodeName() == "Project" and not in_codegen
    ]
    assert interpreted == []
    optimized = qe.optimizedPlan().toString()
    assert optimized.count("token_bag(") == 1, optimized
    assert "lambdafunction" not in optimized


def test_repeated_build_reuses_the_kernel_columns(
    spark, transcripts, tmp_path, monkeypatch
):
    """The kernel's select lists do not depend on the input, so they are
    built and sent to the JVM once per process: building ``pit_features``
    again, over an input with another schema (an extra column, ``ts``
    read back from parquet), only replays the DataFrame calls (106 round
    trips on Spark 4.1.2, 382 when each select sent its list again).
    Each py4j command this thread sends is one round trip to the JVM;
    py4j's finalizer thread detaches freed objects in the background and
    is not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    pit_features(transcripts)
    path = str(tmp_path / "extra")
    transcripts.withColumn("extra", F.lit(1)).write.parquet(path)
    src = spark.read.parquet(path)

    sent = [0]
    send = ClientServerConnection.send_command
    this_thread = threading.get_ident()

    def counting(self, command):
        sent[0] += threading.get_ident() == this_thread
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    out = pit_features(src)
    monkeypatch.undo()
    assert sent[0] < 200, f"{sent[0]} py4j round trips"

    keys = ["conv_id", "ts", "turn_idx"]
    got = out.toPandas().sort_values(keys, kind="mergesort").reset_index(drop=True)
    want = features_ref(src.toPandas())
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), f"column {c} differs"


def _null_key_turns() -> pd.DataFrame:
    """Three turns of conversation "c" plus three with a null conv_id,
    which used to come out as one conversation with f0 = 1, 2, 3."""
    t = _tiny_conv()
    return pd.concat([t, t.assign(conv_id=None)], ignore_index=True)


def test_null_conv_id_is_refused(spark):
    """A null conv_id fails where input enters the kernel: ValueError
    from the oracle, a Spark runtime error from the engine, whose check
    adds no exchange."""
    import re

    from pyspark.errors import SparkRuntimeException

    with pytest.raises(ValueError, match="null conv_id"):
        features_ref(_null_key_turns())
    # a checkpointed source, so the optimizer cannot fold the check
    # into a local relation at planning time
    df = spark.createDataFrame(_null_key_turns()).localCheckpoint(eager=True)
    out = pit_features(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    with pytest.raises(SparkRuntimeException, match="null conv_id"):
        out.collect()
    assert len(pit_features(df.where(F.col("conv_id").isNotNull())).collect()) == 3


def test_unicode_whitespace_tokenizer_matches_sql_oracle(spark):
    """ADVICE r4 closure: the engine tokenizes with Java's (?U)\\s; the
    DuckDB oracle spells the same set as an explicit Unicode
    White_Space class (RE2 \\s is ASCII-only). Exotic-whitespace text -
    NBSP, LINE SEPARATOR, IDEOGRAPHIC SPACE, NEL - must produce
    identical f15 (words) and f16-31 (crc32 bag) on both engines,
    not just on the ASCII testdata."""
    import duckdb

    from dane_visual_feature_extraction_worker_spark.kernel import (
        feature_vectors_windows,
    )
    from dane_visual_feature_extraction_worker_spark.plans.driver_queries import (
        _CRC32_SQL,
        _WS_CLASS,
        _crc32_table,
        _f32,
    )

    texts = [
        "plain ascii words",
        "nbsp\u00a0separated\u00a0tokens",
        "line\u2028sep and\u2029para",
        "ideographic\u3000space\u3000here",
        "nel\u0085break tab\tmix \u200a hair",
        "",
        " \u00a0\u3000",  # whitespace-only -> zero words
    ]
    ts = pd.date_range("2024-01-01", periods=len(texts), freq="10s")
    pdf = pd.DataFrame(
        {
            "conv_id": ["u"] * len(texts),
            "turn_idx": np.arange(len(texts), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": ts,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        feature_vectors_windows(df)
        .select("turn_idx", "f15", *[f"f{i}" for i in range(16, 32)])
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.register("t", pdf[["turn_idx", "text"]])
    bag = ",\n".join(
        _f32(f"CASE WHEN norm > 0 THEN CAST(c{b} AS DOUBLE)/norm ELSE 0.0 END")
        + f" AS f{16 + b}"
        for b in range(16)
    )
    counts = ",".join(
        f"len(list_filter(hs, h -> h = {b})) AS c{b}" for b in range(16)
    )
    norm_sq = " + ".join(f"c{b}*c{b}" for b in range(16))
    ref = con.sql(
        f"""
        WITH c(tbl) AS (SELECT {_crc32_table()}),
        tk AS (
          SELECT turn_idx,
                 list_filter(regexp_split_to_array(text, '{_WS_CLASS}'),
                             x -> x <> '') AS toks
          FROM t
        ), hk AS (
          SELECT turn_idx, len(toks) AS words,
                 list_transform(
                   list_transform(toks, t -> lower(hex(encode(t)))),
                   hx -> {_CRC32_SQL}
                 ) AS hs
          FROM tk, c
        ), ck AS (SELECT turn_idx, words, {counts} FROM hk),
        nk AS (SELECT *, sqrt(CAST({norm_sq} AS DOUBLE)) AS norm FROM ck)
        SELECT turn_idx, {_f32("words")} AS f15, {bag}
        FROM nk ORDER BY turn_idx
        """
    ).fetchdf()

    assert (got["f15"].to_numpy().astype("float64") == ref["f15"].to_numpy()).all()
    for b in range(16, 32):
        g = got[f"f{b}"].to_numpy().astype("float64")
        r = ref[f"f{b}"].to_numpy()
        assert (g == r).all(), f"f{b} diverges on unicode whitespace"


_TEXT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
_EDGE_TEXTS = {
    "empty": "",
    "whitespace_only": " \t\n ",
    "leading_trailing_space": "  lead and trail  ",
    "info_separators_do_not_split": "a\x1cb c\x1fd \x1c",
    "nbsp": "nb\xa0sp\xa0x",
    "line_and_paragraph_separators": "line\u2028sep\u2029para",
    "ideographic_space": "ideo\u3000graphic",
    "nel": "nel\x85break",
    "crlf_tab": "cr\r\nlf\ttab\x0bvt\x0cff",
    "surrogate_pair": "emoji \U0001f600 x\U0001f600y",
    "long_token": "x" * 5000,
    "many_tokens": " ".join(f"t{i}" for i in range(3000)),
    "null": None,
}


def _turns(texts: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": ["e"] * len(texts),
            "turn_idx": np.arange(len(texts), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": pd.date_range("2024-01-01", periods=len(texts), freq="10s"),
        }
    )


def _text_features(df) -> pd.DataFrame:
    return with_text_features(df).toPandas().sort_values("turn_idx").reset_index(drop=True)


def _assert_text_features_equal(
    got: pd.DataFrame,
    want: pd.DataFrame,
    exact: tuple[str, ...] = ("role_code", "has_tool", "chars", "words"),
) -> None:
    """Equal ``exact`` columns and bag; the engine's bag is float32, the
    Python oracle's double."""
    for c in exact:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    for b in range(16):
        g, w = got[f"bag{b}"].to_numpy(), want[f"bag{b}"].to_numpy().astype(np.float32)
        assert (g == w).all(), f"bag{b}"


@pytest.mark.parametrize("name", list(_EDGE_TEXTS))
def test_token_bag_matches_python_oracle(spark, name):
    """``turn_rows``' tokenizer against the Python oracle on texts the
    generated transcripts never hold: Unicode White_Space splits, the
    information separators U+001C..U+001F do not, a null text has no
    tokens, and a surrogate pair is one char of one token."""
    pdf = _turns([_EDGE_TEXTS[name]])
    got = _text_features(spark.createDataFrame(pdf, _TEXT_SCHEMA))
    _assert_text_features_equal(got, text_features_ref(pdf))


def test_token_bag_decodes_invalid_utf8_as_replacement_chars(spark):
    """A string column holding invalid UTF-8 is tokenized as the JVM
    decodes it, each malformed sequence replaced by one U+FFFD. That is
    Python's ``errors="replace"`` except for an encoded surrogate
    (ED A0 80), which the JVM replaces as one sequence and Python as
    three bytes. ``chars`` counts the raw bytes' lead bytes, so only
    words and the bag are compared."""
    decoded = {
        "ff": "\ufffd",
        "c3": "\ufffd",
        "e282": "\ufffd",
        "eda080": "\ufffd",
        "8041": "\ufffdA",
        "41fe42c0af": "A\ufffdB\ufffd\ufffd",
        "20e3802041": " \ufffd A",
    }
    hexes = spark.createDataFrame(_turns(list(decoded)), _TEXT_SCHEMA)
    df = hexes.withColumn("text", F.unhex("text").cast("string"))
    want = text_features_ref(_turns(list(decoded.values())))
    _assert_text_features_equal(_text_features(df), want, exact=("words",))


def test_token_bag_in_a_new_session(spark):
    """The kernel runs in a second session of the same SparkContext,
    which has its own function registry and SQL confs."""
    pdf = _turns(["hello world", "nb\xa0sp", None])
    other = spark.newSession()
    got = _text_features(other.createDataFrame(pdf, _TEXT_SCHEMA))
    _assert_text_features_equal(got, text_features_ref(pdf))
    assert len(pit_features(other.createDataFrame(pdf, _TEXT_SCHEMA)).collect()) == 3
