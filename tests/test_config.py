"""YAML config ingestion + assert-style validation (A21).

Mirrors the reference's eager config gate: yacs YAML tree walked with
``assert check_setting(cfg.SECTION.KEY, type), "SECTION.KEY"`` so a
malformed config dies at submit naming the exact key
(reference base_util.py:21-131), with home→base→local layering
(base_util.py:10-16).
"""

import textwrap

import pytest

from dane_visual_feature_extraction_worker_spark.config import (
    ConfigValidationError,
    EngineConfig,
    check_setting,
    layer_trees,
    load_yaml_config,
    validate_config_tree,
)

VALID = textwrap.dedent(
    """
    ENGINE:
      APP_NAME: yaml-engine
      SHUFFLE_PARTITIONS: 16
      ARROW_BATCH_SIZE: 256
      FEATURE_DIM: 32
      SESSION_GAP_SECONDS: 1800
      MAX_PARTITION_BYTES: 128m
      AQE: true
    PATHS: {}
    SPARK:
      EXTRA_CONF:
        spark.sql.session.timeZone: UTC
    """
)


def _write(tmp_path, name, body):
    p = tmp_path / name
    p.write_text(body)
    return str(p)


def test_load_valid_yaml(tmp_path):
    cfg = load_yaml_config(_write(tmp_path, "c.yml", VALID))
    assert isinstance(cfg, EngineConfig)
    assert cfg.app_name == "yaml-engine"
    assert cfg.shuffle_partitions == 16
    assert cfg.arrow_batch_size == 256
    assert cfg.aqe is True
    assert cfg.master is None  # optional key absent
    assert cfg.extra_conf == {"spark.sql.session.timeZone": "UTC"}


def test_layering_later_file_overrides(tmp_path):
    """base config then local config — the reference's precedence."""
    base = _write(tmp_path, "base.yml", VALID)
    local = _write(
        tmp_path,
        "local.yml",
        "ENGINE:\n  SHUFFLE_PARTITIONS: 64\n  MASTER: local[2]\n",
    )
    cfg = load_yaml_config(base, local)
    assert cfg.shuffle_partitions == 64
    assert cfg.master == "local[2]"
    assert cfg.app_name == "yaml-engine"  # untouched keys survive


@pytest.mark.parametrize(
    "mutation, key",
    [
        ("del tree['ENGINE']", "ENGINE"),
        ("del tree['ENGINE']['APP_NAME']", "ENGINE.APP_NAME"),
        (
            "tree['ENGINE']['SHUFFLE_PARTITIONS'] = 'many'",
            "ENGINE.SHUFFLE_PARTITIONS",
        ),
        # bool is not an int (YAML 'true' for a count is a config bug)
        ("tree['ENGINE']['ARROW_BATCH_SIZE'] = True", "ENGINE.ARROW_BATCH_SIZE"),
        ("tree['ENGINE']['AQE'] = 'yes please'", "ENGINE.AQE"),
        # refused whatever its value: the job takes --checkpoints
        ("tree['PATHS']['CHECKPOINT_DIR'] = 7", "PATHS.CHECKPOINT_DIR"),
        (
            "tree['SPARK']['EXTRA_CONF'] = {'spark.x': ['no', 'lists']}",
            "SPARK.EXTRA_CONF.spark.x",
        ),
    ],
)
def test_validation_failure_names_exact_key(tmp_path, mutation, key):
    import yaml

    tree = yaml.safe_load(VALID)
    exec(mutation, {"tree": tree})
    with pytest.raises(ConfigValidationError) as ei:
        validate_config_tree(tree)
    assert key in str(ei.value)


@pytest.mark.parametrize(
    "key, value",
    [
        ("SESSION_GAP_SECONDS", "900"),
        ("SESSION_GAP_SECONDS", "'1800'"),
        ("FEATURE_DIM", "64"),
    ],
)
def test_kernel_constant_keys_must_match_the_kernel(tmp_path, key, value):
    """The kernel hard-codes the session gap and the feature width; a
    config that sets another value fails at load, naming the key."""
    import re

    body = re.sub(rf"{key}: \S+", f"{key}: {value}", VALID)
    with pytest.raises(ConfigValidationError) as ei:
        load_yaml_config(_write(tmp_path, "c.yml", body))
    assert f"ENGINE.{key}" in str(ei.value)


def test_kernel_constant_keys_are_optional(tmp_path):
    body = "\n".join(
        ln
        for ln in VALID.splitlines()
        if "FEATURE_DIM" not in ln and "SESSION_GAP_SECONDS" not in ln
    )
    cfg = load_yaml_config(_write(tmp_path, "c.yml", body))
    assert cfg.app_name == "yaml-engine"


def _run_pipeline_job():
    import importlib.util as iu
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = iu.spec_from_file_location(
        "run_pipeline", os.path.join(repo, "jobs", "run_pipeline.py")
    )
    job = iu.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


@pytest.mark.parametrize(
    "flag",
    [["--session-gap-seconds", "900"], ["--entity-col", "role"]],
    ids=["session_gap", "entity_col"],
)
def test_run_pipeline_refuses_session_gap_flag(tmp_path, flag):
    """``--session-gap-seconds`` did nothing, and the kernel always
    groups by ``conv_id``, so any ``--entity-col`` but ``conv_id``
    gave wrong features: the job accepts neither flag."""
    argv = ["--input", f"{tmp_path}/in", "--output", f"{tmp_path}/out",
            "--checkpoints", f"{tmp_path}/cp", *flag]
    with pytest.raises(SystemExit):
        _run_pipeline_job().main(argv)


def test_run_pipeline_config_sets_runtime_sql_conf(spark, transcripts, tmp_path):
    """``--config`` sets SHUFFLE_PARTITIONS, AQE and MAX_PARTITION_BYTES
    on the job's session, not only validates them."""
    keys = {
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    }
    before = {k: spark.conf.get(k) for k in keys}
    body = (
        VALID.replace("SHUFFLE_PARTITIONS: 16", "SHUFFLE_PARTITIONS: 3")
        .replace("AQE: true", "AQE: false")
        .replace("MAX_PARTITION_BYTES: 128m", "MAX_PARTITION_BYTES: 1m")
    )
    transcripts.write.parquet(f"{tmp_path}/in")
    argv = ["--input", f"{tmp_path}/in", "--output", f"{tmp_path}/out",
            "--checkpoints", f"{tmp_path}/cp", "--n-buckets", "1",
            "--config", _write(tmp_path, "c.yml", body)]
    try:
        assert _run_pipeline_job().main(argv) == 0
        assert {k: spark.conf.get(k) for k in keys} == keys
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_checkpoint_dir_key_is_refused(tmp_path):
    """``PATHS.CHECKPOINT_DIR`` was parsed but never read: the job takes
    its checkpoint dir from ``--checkpoints``. A config that still sets
    it fails at load, naming the key and the flag."""
    body = VALID.replace("PATHS: {}", "PATHS:\n  CHECKPOINT_DIR: /data/cp")
    with pytest.raises(ConfigValidationError) as ei:
        load_yaml_config(_write(tmp_path, "c.yml", body))
    assert "PATHS.CHECKPOINT_DIR" in str(ei.value)
    assert "--checkpoints" in str(ei.value)


def test_check_setting_semantics():
    assert check_setting("x", str)
    assert not check_setting(None, str)
    assert check_setting(None, str, optional=True)
    assert not check_setting(True, int)  # bool is not an int
    assert check_setting(3, float)  # int satisfies a float knob
    assert not check_setting("3", int)


def test_layer_trees_recursive_merge():
    a = {"ENGINE": {"APP_NAME": "a", "AQE": True}, "PATHS": {}}
    b = {"ENGINE": {"APP_NAME": "b"}}
    merged = layer_trees(a, b)
    assert merged["ENGINE"] == {"APP_NAME": "b", "AQE": True}


def test_dataclass_invariants_still_enforced(tmp_path):
    """YAML can be type-valid but value-invalid; the dataclass
    __post_init__ still rejects (shuffle_partitions >= 1)."""
    p = _write(
        tmp_path,
        "c.yml",
        VALID.replace(
            "SHUFFLE_PARTITIONS: 16", "SHUFFLE_PARTITIONS: 0"
        ),
    )
    with pytest.raises(ValueError):
        load_yaml_config(p)


def test_bench_headline_keys_all_registered():
    """Every bench.py HEADLINE name must exist in queries() — bench's
    name filter drops unknown keys SILENTLY, so a typo would quietly
    shrink the measured suite."""
    import importlib.util as iu
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = iu.spec_from_file_location("bench", os.path.join(repo, "bench.py"))
    bench = iu.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    missing = [k for k in bench.HEADLINE if k not in dq.QUERIES]
    assert not missing, missing
