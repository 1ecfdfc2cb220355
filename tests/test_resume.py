"""Checkpoint/resume: killed job resumes without recomputation and the
final table equals a never-killed run (north rule)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from dane_visual_feature_extraction_worker_spark.checkpoint import CheckpointedRunner
from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features_array as pit_features


def _runner(spark, tmp, tag, n_buckets=6):
    return CheckpointedRunner(
        spark,
        output_dir=f"{tmp}/out_{tag}",
        checkpoint_dir=f"{tmp}/cp_{tag}",
        n_buckets=n_buckets,
    )


def test_resume_skips_done_work_and_output_identical(spark, transcripts, tmp_path):
    tmp = str(tmp_path)

    # reference: single uninterrupted run
    ref = _runner(spark, tmp, "ref")
    s = ref.run(transcripts, pit_features)
    assert s["computed"] == 6 and s["skipped"] == 0

    # crashed run: dies after 2 buckets
    crash = _runner(spark, tmp, "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        crash.run(transcripts, pit_features, fail_after=2)
    assert crash.load_checkpoints().where("status = 'done'").count() == 2

    # resume: only the remaining 4 buckets are computed
    s2 = crash.run(transcripts, pit_features)
    assert s2["skipped"] == 2 and s2["computed"] == 4 and s2["attempt"] == 2

    a = ref.result().toPandas().sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    b = crash.result().toPandas().sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    assert len(a) == len(b) == transcripts.count()
    assert (a["conv_id"] == b["conv_id"]).all()
    fa = np.stack(a["features"].to_numpy())
    fb = np.stack(b["features"].to_numpy())
    assert (fa == fb).all()

    # lineage/metrics recorded per bucket
    cps = crash.load_checkpoints().toPandas()
    assert set(cps["bucket"]) == set(range(6))
    assert (cps["rows"] > 0).any() and (cps["ms"] >= 0).all()
    assert cps["lineage"].str.contains('"step": "pipeline"').all()


def test_rerun_is_full_noop(spark, transcripts, tmp_path):
    tmp = str(tmp_path)
    r = _runner(spark, tmp, "noop", n_buckets=4)
    r.run(transcripts, pit_features)
    s = r.run(transcripts, pit_features)
    assert s["computed"] == 0 and s["skipped"] == 4


def test_source_scanned_once_per_attempt(spark, transcripts, tmp_path):
    """End-to-end proof of the staging fix (VERDICT r1): an accumulator
    UDF on the *source* counts every row materialized from it. After a
    full run over N buckets the count equals n_rows × 1 — the source was
    scanned once (staged), not once per bucket."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, LongType())
    n_rows = transcripts.count()
    src = transcripts.withColumn("turn_idx", tick_udf(F.col("turn_idx").cast("long")))

    r = _runner(spark, str(tmp_path), "scan1", n_buckets=5)
    s = r.run(src, pit_features)
    assert s["computed"] == 5 and s["staged_writes"] == 1
    assert acc.value == n_rows, (
        f"source scanned {acc.value / n_rows:.1f}x, expected exactly once"
    )
    assert r.result().count() == n_rows


def test_source_scanned_once_per_job(spark, transcripts, tmp_path):
    """A restart reads the ``_staged`` snapshot its crashed first attempt
    wrote instead of the source: over a crash and a restart the source
    tick-UDF counts every row exactly once, and the restart stages
    nothing. It used to re-scan and re-stage every pending row."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, LongType())
    n_rows = transcripts.count()
    src = transcripts.withColumn("turn_idx", tick_udf(F.col("turn_idx").cast("long")))

    r = _runner(spark, str(tmp_path), "scanjob", n_buckets=5)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(src, pit_features, fail_after=2)
    s = r.run(src, pit_features)
    assert s["skipped"] == 2 and s["computed"] == 3
    assert s["staged_writes"] == 0
    assert acc.value == n_rows, (
        f"source scanned {acc.value / n_rows:.2f}x over the job, expected once"
    )
    assert r.result().count() == n_rows


def _sorted_features(df):
    key = ["conv_id", "ts", "turn_idx"]
    pdf = df.toPandas().sort_values(key).reset_index(drop=True)
    return pdf[key], np.stack(pdf["features"].to_numpy())


def test_restart_without_stage_marker_restages(spark, transcripts, tmp_path):
    """``_staged`` is reused only under its ``_stage.json`` marker: with
    the marker gone the restart stages its pending buckets again and the
    table still equals a one-shot run."""
    import os

    tmp = str(tmp_path)
    r = _runner(spark, tmp, "nomarker", n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, pit_features, fail_after=2)
    os.remove(f"{tmp}/out_nomarker/_staged/_stage.json")
    s = r.run(transcripts, pit_features)
    assert s["computed"] == 2 and s["staged_writes"] == 1
    assert not os.path.exists(f"{tmp}/out_nomarker/_staged")

    ref = _runner(spark, tmp, "nomarker_ref", n_buckets=4)
    ref.run(transcripts, pit_features)
    (ka, fa), (kb, fb) = _sorted_features(ref.result()), _sorted_features(r.result())
    assert ka.equals(kb) and (fa == fb).all()


def _refuse_restart_over_copied_input(spark, src_df, write, tmp, tag):
    """Run over ``src_df`` written by ``write`` until a failure after two
    buckets, then restart over a copy of those files at another path: the
    restart must raise naming a done record and its
    ``input_files_sha256`` before it writes anything, and the original
    files must still resume."""
    import os
    import shutil

    src = f"{tmp}/in_{tag}"
    write(src_df, src)
    shutil.copytree(src, f"{src}_copy")
    r = _runner(spark, tmp, tag, n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(spark.read.parquet(src), pit_features, fail_after=2)
    before = sorted(os.listdir(f"{tmp}/out_{tag}"))
    with pytest.raises(
        ValueError,
        match=rf"cp_{tag}/bucket=\d+-attempt=1\.json was written with "
        r"input_files_sha256=.*new output and checkpoint dirs",
    ):
        r.run(spark.read.parquet(f"{src}_copy"), pit_features)
    assert sorted(os.listdir(f"{tmp}/out_{tag}")) == before
    # the original input still resumes from its snapshot
    s = r.run(spark.read.parquet(src), pit_features)
    assert s["skipped"] == 2 and s["computed"] == 2 and s["staged_writes"] == 0


def test_restart_over_other_input_files_is_refused(spark, transcripts, tmp_path):
    """A job killed over one input dir and restarted over a copy of it at
    another path used to report success over a table mixing two
    snapshots. The restart now raises naming a done record and its
    ``input_files_sha256``, before it writes anything."""
    _refuse_restart_over_copied_input(
        spark, transcripts, lambda df, path: df.write.parquet(path),
        str(tmp_path), "moved",
    )


def test_prebucketed_restart_over_other_input_files_is_refused(
    spark, transcripts, tmp_path
):
    """A hive ``__bucket=`` layout is staged like plain parquet, so a
    restart over a copy of it at another path is refused the same way."""
    from dane_visual_feature_extraction_worker_spark.checkpoint import bucket_of

    _refuse_restart_over_copied_input(
        spark,
        transcripts.withColumn("__bucket", bucket_of("conv_id", 4)),
        lambda df, path: df.write.partitionBy("__bucket").parquet(path),
        str(tmp_path), "premoved",
    )


def test_unreadable_stage_marker_raises_naming_it(spark, transcripts, tmp_path):
    """A garbled ``_stage.json`` must not read as "no snapshot" or as a
    reusable one."""
    import re

    tmp = str(tmp_path)
    r = _runner(spark, tmp, "badmarker", n_buckets=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, lambda df: df, fail_after=1)
    marker = f"{tmp}/out_badmarker/_staged/_stage.json"
    with open(marker, "w") as f:
        f.write("{not json")
    match = f"unreadable staging marker {re.escape(marker)}"
    with pytest.raises(ValueError, match=match):
        r.run(transcripts, lambda df: df)


def test_runner_counts_rows_in_the_write_pass(spark, transcripts, tmp_path):
    """``output_rows`` comes from an ``Observation`` on each bucket's
    write: a tick-UDF accumulator in the pipeline proves every bucket's
    output is computed exactly once (no count before or after the write).
    The UDF sits in a filter so that a ``count()`` cannot prune it."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, LongType())
    n_rows = transcripts.count()
    r = _runner(spark, str(tmp_path), "observe", n_buckets=3)
    s = r.run(
        transcripts,
        lambda df: df.where(tick_udf(F.col("turn_idx").cast("long")) >= 0),
    )
    assert s["computed"] == 3 and s["output_rows"] == n_rows
    assert acc.value == n_rows, f"pipeline ran {acc.value / n_rows:.1f}x"
    assert r.result().count() == n_rows


def test_empty_source_completes(spark, transcripts, tmp_path):
    """ADVICE r2: a zero-row source used to crash the staged read-back
    ('Unable to infer schema'); a schema-providing read fixes it."""
    empty = transcripts.where("1 = 0")
    r = _runner(spark, str(tmp_path), "empty", n_buckets=3)
    s = r.run(empty, pit_features)
    assert s["computed"] == 3
    assert r.result().count() == 0


@pytest.mark.parametrize("layout", ["split_conversations", "wider", "null", "matching"])
def test_source_bucket_column_is_ignored(spark, transcripts, tmp_path, layout):
    """A source with its own ``__bucket`` column used to skip staging,
    each bucket running the whole pipeline over ``__bucket = b``. A
    layout keyed by ``turn_idx % 2`` split every conversation across
    buckets and reported success over features from half a history; a
    column wider than ``n_buckets`` or holding nulls raised. The runner
    now ignores the column and buckets by ``bucket_of``: each layout is
    staged once by the attempt that crashes after 2 buckets, the
    restart reads that snapshot, and the table equals the one-shot
    ``pit_features``."""
    import json
    import os

    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.checkpoint import bucket_of

    tmp = str(tmp_path)
    n_buckets = 8 if layout == "wider" else 4
    by_conv = bucket_of("conv_id", n_buckets)
    columns = {
        "split_conversations": F.col("turn_idx") % 2,
        "wider": bucket_of("conv_id", 16),
        "null": F.when(by_conv != 0, by_conv),
        "matching": by_conv,
    }
    src = transcripts.withColumn("__bucket", columns[layout])
    if layout != "wider":  # a hive ``__bucket=`` layout
        src.write.partitionBy("__bucket").parquet(f"{tmp}/in")
        src = spark.read.parquet(f"{tmp}/in")
    r = _runner(spark, tmp, layout, n_buckets=n_buckets)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(src, pit_features, fail_after=2)
    marker = f"{tmp}/out_{layout}/_staged/_stage.json"
    staged = None
    if os.path.exists(marker):
        with open(marker) as f:
            staged = json.load(f)["buckets"]
    s = r.run(src, pit_features)
    assert s["skipped"] == 2 and s["computed"] == n_buckets - 2
    (ka, fa), (kb, fb) = (
        _sorted_features(pit_features(transcripts)),
        _sorted_features(r.result()),
    )
    assert ka.equals(kb) and (fa == fb).all()
    # one staging write per job: the crashed attempt's
    assert staged == list(range(n_buckets)) and s["staged_writes"] == 0


def test_checkpoint_records_readable_as_json_table(spark, transcripts, tmp_path):
    """One JSON record per bucket, published by rename: an 8-bucket run
    leaves 8 ``done`` rows readable as a plain JSON table and no
    ``_``-prefixed temp record; its one ``_`` file is the attempt's
    claim."""
    import os

    r = _runner(spark, str(tmp_path), "json", n_buckets=8)
    r.run(transcripts, lambda df: df)
    cps = spark.read.json(f"{tmp_path}/cp_json")
    assert sorted(
        row["bucket"] for row in cps.where("status = 'done'").collect()
    ) == list(range(8))
    assert [n for n in os.listdir(f"{tmp_path}/cp_json") if n.startswith("_")] == [
        "_attempt1"
    ]
    assert r.load_checkpoints().where("status = 'done'").count() == 8


def test_restart_with_other_bucket_count_is_refused(spark, transcripts, tmp_path):
    """A job killed at 4 buckets and restarted at 8 used to report
    success over a table holding some conversations twice."""
    tmp = str(tmp_path)
    with pytest.raises(RuntimeError, match="injected failure"):
        _runner(spark, tmp, "rebucket", n_buckets=4).run(
            transcripts, pit_features, fail_after=2
        )
    with pytest.raises(ValueError, match="n_buckets=4"):
        _runner(spark, tmp, "rebucket", n_buckets=8).run(transcripts, pit_features)
    wrong_key = CheckpointedRunner(
        spark, f"{tmp}/out_rebucket", f"{tmp}/cp_rebucket", 4, entity_col="turn_idx"
    )
    with pytest.raises(ValueError, match="entity_col='conv_id'"):
        wrong_key.run(transcripts, pit_features)


def test_restart_with_other_output_schema_is_refused(spark, transcripts, tmp_path):
    """A job killed under one pipeline and restarted under another used
    to report success over a table holding two schemas. The restart now
    raises naming a done record, before it writes anything."""
    import os

    from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
        pit_features as pit_features_flat,
    )

    tmp = str(tmp_path)
    r = _runner(spark, tmp, "reshape", n_buckets=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, pit_features, fail_after=1)
    before = sorted(os.listdir(f"{tmp}/out_reshape"))
    with pytest.raises(
        ValueError,
        match=r"cp_reshape/bucket=\d+-attempt=1\.json.*new output and checkpoint dirs",
    ):
        r.run(transcripts, pit_features_flat)
    assert sorted(os.listdir(f"{tmp}/out_reshape")) == before
    # the original pipeline still resumes
    assert r.run(transcripts, pit_features)["computed"] == 2


def test_restart_with_other_row_stage_is_refused(spark, transcripts, tmp_path):
    """``_staged`` holds the pipeline's row stage. A restart whose row
    stage has another schema, under a pipeline with the same output,
    used to report success over buckets computed from two kinds of
    rows. It now raises naming a done record and its
    ``rows_schema_sha256``, before it writes anything."""
    import os

    import pyspark.sql.functions as F

    def wider(df):
        return pit_features(df)

    # the row stage keeps every source column and adds one
    wider.rows = lambda df: df.withColumn("extra", F.lit(1))
    wider.windows = pit_features

    tmp = str(tmp_path)
    r = _runner(spark, tmp, "rerow", n_buckets=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, pit_features, fail_after=1)
    before = sorted(os.listdir(f"{tmp}/out_rerow"))
    with pytest.raises(
        ValueError,
        match=r"cp_rerow/bucket=\d+-attempt=1\.json was written with "
        r"rows_schema_sha256=.*new output and checkpoint dirs",
    ):
        r.run(transcripts, wider)
    assert sorted(os.listdir(f"{tmp}/out_rerow")) == before
    # the original pipeline still resumes from its snapshot
    s = r.run(transcripts, pit_features)
    assert s["computed"] == 2 and s["staged_writes"] == 0


def test_stage_marker_is_only_a_cache(spark, transcripts, tmp_path):
    """Only done records can put a second input into the table. With
    none left, a marker written for other input files only says the
    snapshot is stale: a restart over moved input stages again and
    gives the one-shot table. It used to raise naming the marker."""
    import shutil

    tmp = str(tmp_path)
    transcripts.write.parquet(f"{tmp}/in")
    shutil.copytree(f"{tmp}/in", f"{tmp}/in_copy")
    r = _runner(spark, tmp, "stale", n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(spark.read.parquet(f"{tmp}/in"), pit_features, fail_after=1)
    shutil.rmtree(f"{tmp}/cp_stale")
    s = r.run(spark.read.parquet(f"{tmp}/in_copy"), pit_features)
    assert s["computed"] == 4 and s["staged_writes"] == 1

    ref = _runner(spark, tmp, "stale_ref", n_buckets=4)
    ref.run(spark.read.parquet(f"{tmp}/in"), pit_features)
    (ka, fa), (kb, fb) = _sorted_features(ref.result()), _sorted_features(r.result())
    assert ka.equals(kb) and (fa == fb).all()


def test_checkpointed_bucket_declares_the_one_shot_schema(spark, transcripts, tmp_path):
    """A bucket written from the staged rows used to declare ``f3`` and
    ``f15`` nullable in its parquet footer, where the one-shot write
    declares them required: a parquet read of ``_staged`` makes every
    column nullable."""
    import glob

    import pyarrow.parquet as pq

    from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
        pit_features as pit_features_flat,
    )

    tmp = str(tmp_path)
    transcripts.write.parquet(f"{tmp}/in")
    src = spark.read.parquet(f"{tmp}/in")
    pit_features_flat(src).write.parquet(f"{tmp}/one_shot")
    r = _runner(spark, tmp, "footer", n_buckets=2)
    assert r.run(src, pit_features_flat)["staged_writes"] == 1

    def footer(d):
        schema = pq.read_schema(sorted(glob.glob(f"{d}/part-*.parquet"))[0])
        return [(f.name, str(f.type), f.nullable) for f in schema]

    assert footer(f"{tmp}/out_footer/bucket=0") == footer(f"{tmp}/one_shot")


def _final_plan_nodes(plan: str) -> list[str]:
    """The detail blocks (``(n) Name ...``) of the nodes in the final AQE
    plan of an executed plan's description."""
    phys = plan[plan.index("== Physical Plan ==") :]
    tree, _, details = phys.partition("\n\n\n")
    final = tree[tree.index("== Final Plan ==") : tree.index("== Initial Plan ==")]
    ids = set(re.findall(r"\((\d+)\)", final))
    blocks = re.split(r"\n\n(?=\(\d+\) )", details.strip())
    return [b for b in blocks if re.match(r"\((\d+)\)", b).group(1) in ids]


def test_buckets_run_only_the_windowed_stage(spark, transcripts, tmp_path):
    """The staging write runs the kernel's row stage, whose one plan
    node calls the tokenizer ``token_bag``, and each bucket's write reads the staged rows, ``__bag`` included,
    and tokenizes nothing. Before, every bucket (and every restart)
    tokenized its turns again."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def plans():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = store.executionsList()
        execs = (listed.apply(i) for i in range(listed.size()))
        return {e.executionId(): (e.description(), e.physicalPlanDescription()) for e in execs}

    before = set(plans())
    r = _runner(spark, str(tmp_path), "stages", n_buckets=3)
    r.run(transcripts, pit_features)
    ran = {d: p for i, (d, p) in plans().items() if i not in before}
    assert set(ran) == {"pit:1:stage", "pit:1:0", "pit:1:1", "pit:1:2"}

    stage = _final_plan_nodes(ran.pop("pit:1:stage"))
    assert len([n for n in stage if "token_bag(" in n]) == 1
    for desc, plan in ran.items():
        assert "token_bag(" not in plan, desc
        scans = [n for n in _final_plan_nodes(plan) if re.match(r"\(\d+\) Scan parquet", n)]
        assert len(scans) == 1, desc
        assert "/out_stages/_staged]" in scans[0], desc
        assert "__bag:array<float>" in scans[0], desc


def test_runner_refuses_null_conv_id(spark, transcripts, tmp_path):
    """Null-``conv_id`` turns used to be written as one conversation and
    their bucket recorded done. The row stage refuses them, so the run
    now raises in its staging write, before it writes any bucket or
    publishes any marker. Its summary records the error."""
    import json
    import os

    import pyspark.sql.functions as F
    from pyspark.errors import SparkRuntimeException

    nulls = transcripts.limit(3).withColumn("conv_id", F.lit(None).cast("string"))
    src = transcripts.unionByName(nulls)
    r = _runner(spark, str(tmp_path), "nullkey", n_buckets=4)
    with pytest.raises(SparkRuntimeException, match="null conv_id"):
        r.run(src, pit_features)
    done = {row["bucket"] for row in r.load_checkpoints().where("status = 'done'").collect()}
    assert done == set()
    assert not os.path.exists(f"{tmp_path}/out_nullkey/_staged/_stage.json")
    with open(f"{tmp_path}/out_nullkey/_provenance_attempt1.json") as f:
        s = json.load(f)
    assert s["staged_writes"] == 0 and s["computed"] == 0
    assert s["error"].startswith("SparkRuntimeException") and "null conv_id" in s["error"]


def test_failed_attempt_writes_its_summary(spark, transcripts, tmp_path):
    """An attempt that raises used to write no
    ``_provenance_attempt<n>.json``: what it staged and finished showed
    only in the staging marker and the records. It now writes its
    summary so far with the error, and the caller still gets the
    original exception."""
    import json

    r = _runner(spark, str(tmp_path), "failed", n_buckets=2)
    with pytest.raises(RuntimeError, match="^injected failure after 1 buckets$"):
        r.run(transcripts, pit_features, fail_after=1)
    with open(f"{tmp_path}/out_failed/_provenance_attempt1.json") as f:
        s = json.load(f)
    assert s["attempt"] == 1 and s["skipped"] == 0 and s["n_buckets"] == 2
    assert s["computed"] == 1 and s["staged_writes"] == 1
    assert s["output_rows"] == r.load_checkpoints().collect()[0]["rows"] > 0
    assert s["error"] == "RuntimeError: injected failure after 1 buckets"
    done = r.run(transcripts, pit_features)
    assert done["attempt"] == 2 and done["computed"] == 1 and "error" not in done


def test_attempt_numbers_are_never_reused(spark, transcripts, tmp_path):
    """An attempt that failed before its first record used to have its
    number taken again by the next attempt, which overwrote its
    ``_provenance_attempt<n>.json`` and the error in it. Each attempt
    now claims its number in ``checkpoint_dir``."""
    import json

    import pyspark.sql.functions as F
    from pyspark.errors import SparkRuntimeException

    nulls = transcripts.limit(3).withColumn("conv_id", F.lit(None).cast("string"))
    r = _runner(spark, str(tmp_path), "claims", n_buckets=2)
    with pytest.raises(SparkRuntimeException, match="null conv_id"):
        r.run(transcripts.unionByName(nulls), pit_features)
    done = r.run(transcripts, pit_features)
    assert done["attempt"] == 2 and done["computed"] == 2 and "error" not in done
    with open(f"{tmp_path}/out_claims/_provenance_attempt1.json") as f:
        failed = json.load(f)
    assert failed["attempt"] == 1 and "null conv_id" in failed["error"]
    with open(f"{tmp_path}/out_claims/_provenance_attempt2.json") as f:
        assert json.load(f) == done
    assert {row["attempt"] for row in r.load_checkpoints().collect()} == {2}
    assert r.run(transcripts, pit_features)["attempt"] == 3


@pytest.mark.parametrize("n_buckets", [0, -1])
def test_runner_refuses_fewer_than_one_bucket(spark, tmp_path, n_buckets):
    """``n_buckets=0`` used to report success over an empty table."""
    with pytest.raises(ValueError, match="n_buckets must be >= 1"):
        _runner(spark, str(tmp_path), "nobuckets", n_buckets=n_buckets)


@pytest.mark.parametrize(
    "damage",
    ["garbled_record", "checksum_mismatch", "old_parquet_part", "lineage_not_an_object"],
)
def test_unreadable_checkpoint_dir_raises_naming_the_file(
    spark, transcripts, tmp_path, damage
):
    """An existing but unreadable checkpoint dir must not read as
    "nothing done" (which silently recomputes everything)."""
    import json
    import os
    import re

    tmp = str(tmp_path)
    r = _runner(spark, tmp, "bad", n_buckets=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, lambda df: df, fail_after=1)
    cp = f"{tmp}/cp_bad"
    if damage != "old_parquet_part":
        bad = [n for n in os.listdir(cp) if not n.startswith((".", "_"))][0]
        with open(os.path.join(cp, bad)) as f:
            text = json.dumps({**json.load(f), "lineage": "[]"})
        with open(os.path.join(cp, bad), "w") as f:
            f.write(text if damage == "lineage_not_an_object" else "{not json")
        if damage != "checksum_mismatch" and os.path.exists(f"{cp}/.{bad}.crc"):
            os.remove(f"{cp}/.{bad}.crc")
    else:
        bad = "part-00000-0000.snappy.parquet"
        with open(os.path.join(cp, bad), "wb") as f:
            f.write(b"PAR1")
    with pytest.raises(ValueError, match=re.escape(bad)):
        r.run(transcripts, lambda df: df)
    with pytest.raises(ValueError, match=re.escape(bad)):
        r.load_checkpoints()


def test_runner_on_file_uris(spark, transcripts, tmp_path):
    """Every filesystem call goes through Hadoop FileSystem, so a
    ``file://`` URI behaves like a plain path: bytes are measured,
    staging is cleaned up and the attempt summary is written: one
    ``_provenance_attempt1.json`` equal to what ``run()`` returned."""
    import json
    import os

    tmp = str(tmp_path)
    r = CheckpointedRunner(
        spark, f"file://{tmp}/out", f"file://{tmp}/cp", n_buckets=3
    )
    s = r.run(transcripts, lambda df: df)
    assert s["computed"] == 3 and s["output_rows"] == transcripts.count()
    cps = r.load_checkpoints().toPandas()
    assert len(cps) == 3 and (cps["bytes"] > 0).all()
    assert not os.path.exists(f"{tmp}/out/_staged")
    assert [n for n in os.listdir(f"{tmp}/out") if n.startswith("_provenance")] == [
        "_provenance_attempt1.json"
    ]
    with open(f"{tmp}/out/_provenance_attempt1.json") as f:
        assert s["ms"] > 0 and json.load(f) == s


def _in_job_group(sc, group: str, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_runner_names_its_spark_jobs(spark, transcripts, tmp_path):
    """Every Spark job of an attempt carries ``pit:<attempt>:stage`` or
    ``pit:<attempt>:<bucket>`` as its description in the status store,
    and the caller's own description is back in place afterwards. The
    restart reads the first attempt's staged snapshot, so it runs no
    ``pit:2:stage`` job."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = store.jobsList(None)
        out = {}
        for j in (listed.apply(i) for i in range(listed.size())):
            d = j.description()
            out[j.jobId()] = d.get() if d.isDefined() else None
        return out

    before = set(jobs())
    r = _runner(spark, str(tmp_path), "named", n_buckets=3)
    sc.setJobDescription("caller")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run(transcripts, pit_features, fail_after=2)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    r.run(transcripts, pit_features)
    assert sc.getLocalProperty("spark.job.description") is None
    named = {d for i, d in jobs().items() if i not in before}
    assert named == {"pit:1:stage", "pit:1:0", "pit:1:1", "pit:2:2"}


def test_control_plane_launches_no_spark_job(spark, transcripts, tmp_path):
    """Rerunning a fully-done table only reads checkpoint records, which
    the driver does without a Spark job."""
    r = _runner(spark, str(tmp_path), "nojob", n_buckets=4)
    r.run(transcripts, lambda df: df)
    s, jobs = _in_job_group(
        spark.sparkContext,
        "control-plane-noop",
        lambda: r.run(transcripts, lambda df: df),
    )
    assert s["computed"] == 0 and s["skipped"] == 4
    assert jobs == 0


def test_run_pipeline_main_takes_output_rows_from_records(
    spark, transcripts, tmp_path, capsys
):
    """``jobs/run_pipeline.py`` reports output_rows from the done
    records: a rerun of a finished job runs no job beyond reading its
    input (no rescan of the output)."""
    import importlib.util as iu
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = iu.spec_from_file_location(
        "run_pipeline", os.path.join(repo, "jobs", "run_pipeline.py")
    )
    job = iu.module_from_spec(spec)
    spec.loader.exec_module(job)

    tmp = str(tmp_path)
    transcripts.write.parquet(f"{tmp}/in")
    argv = ["--input", f"{tmp}/in", "--output", f"{tmp}/out",
            "--checkpoints", f"{tmp}/cp", "--n-buckets", "3"]
    n = transcripts.count()
    assert job.main(argv) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["output_rows"] == n

    sc = spark.sparkContext
    _, read_input = _in_job_group(
        sc, "main-read-input", lambda: spark.read.parquet(f"{tmp}/in")
    )
    _, rerun = _in_job_group(sc, "main-rerun", lambda: job.main(argv))
    summary = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert summary["computed"] == 0 and summary["output_rows"] == n
    assert rerun == read_input
