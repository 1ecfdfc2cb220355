"""Engine configuration + validation.

Spark-native analogue of the reference's eager config validation
(reference: base_util.py:21-131 validate_config — asserts presence and
types of every key before any work starts). Two entry points:

- :class:`EngineConfig` — the typed dataclass every engine component
  consumes; its ``__post_init__`` re-checks invariants.
- :func:`load_yaml_config` — the reference-shaped path: a layered YAML
  tree (``ENGINE`` / ``SPARK`` sections) is loaded,
  validated key-by-key with the reference's assert-style checks
  (``check_setting(cfg.SECTION.KEY, type)`` → failure names the exact
  key, base_util.py:33-117), and materialized into the dataclass.
  Both steps read the engine keys from one table, ``_ENGINE_KEYS``.
  Validation happens eagerly at load — a 100 TB job must die at submit
  time on a malformed config, not 4 hours in.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Validated engine configuration.

    Attributes mirror the knobs the reference reads from YAML
    (batch size feature_extraction.py:76; device/worker init
    worker.py:61) plus the Spark-scale knobs the reference lacks.
    """

    app_name: str = "dane-feature-engine"
    master: str | None = None  # None -> local[$SPARK_GRAFT_CPUS or *]
    shuffle_partitions: int = 32
    # Arrow transfer batch. The reference's DataLoader uses 256
    # (feature_extraction.py:76) but 256-row Arrow batches strangle
    # UDF transfer at scale (measured 2-5x); execution semantics are
    # batch-size-invariant, so default to 10k and keep 256 for tests
    # that mirror the reference shape.
    arrow_batch_size: int = 10_000
    max_partition_bytes: str = "128m"
    aqe: bool = True
    # Tungsten off-heap for sort/shuffle/window buffers: at high
    # executor parallelism the on-heap UnsafeExternalSorter pages drive
    # G1 into collection storms (measured: 4-5x slowdown spikes on a
    # 32-thread window stage); off-heap pages remove them. Standard
    # production setting for wide-window/shuffle-heavy jobs.
    offheap_size: str | None = "16g"

    extra_conf: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.app_name:
            raise ValueError("app_name must be non-empty")
        if self.shuffle_partitions < 1:
            raise ValueError("shuffle_partitions must be >= 1")
        if self.arrow_batch_size < 1:
            raise ValueError("arrow_batch_size must be >= 1")

    @property
    def resolved_master(self) -> str:
        if self.master:
            return self.master
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        return f"local[{cpus}]"


def check_setting(value, t: type, optional: bool = False) -> bool:
    """Type check for one config key (reference base_util.py:148-151:
    ``check_setting(setting, t, optional)`` — None passes only when
    optional). bool is NOT an int here, mirroring YAML semantics."""
    if value is None:
        return optional
    if t is int and isinstance(value, bool):
        return False
    if t is float and isinstance(value, int) and not isinstance(value, bool):
        return True  # YAML '1800' for a float knob is fine
    return isinstance(value, t)


class ConfigValidationError(ValueError):
    """Raised with the exact failing key, reference-style
    (base_util.py:33 ``assert check_setting(...), "RABBITMQ.HOST"``)."""


# ENGINE key -> (EngineConfig field, type, optional): the one list of
# engine keys, read by validate_config_tree and load_yaml_config. An
# absent optional key loads as None.
_ENGINE_KEYS = {
    "APP_NAME": ("app_name", str, False),
    "MASTER": ("master", str, True),
    "SHUFFLE_PARTITIONS": ("shuffle_partitions", int, False),
    "ARROW_BATCH_SIZE": ("arrow_batch_size", int, False),
    "MAX_PARTITION_BYTES": ("max_partition_bytes", str, False),
    "AQE": ("aqe", bool, False),
    "OFFHEAP_SIZE": ("offheap_size", str, True),
}


def _require(cond: bool, key: str) -> None:
    if not cond:
        raise ConfigValidationError(f"Configuration error: {key}")


def validate_config_tree(tree: dict) -> None:
    """Assert-style validation of the YAML tree BEFORE materialization.

    Mirrors the reference's validate_config walk (base_util.py:21-131):
    every key is presence- and type-checked, failures name the key.
    """
    _require(isinstance(tree, dict) and bool(tree), "<root>")
    eng = tree.get("ENGINE")
    _require(isinstance(eng, dict), "ENGINE")
    for key, (_, t, optional) in _ENGINE_KEYS.items():
        _require(check_setting(eng.get(key), t, optional), f"ENGINE.{key}")
    # The kernel fixes these two; a config may only restate them.
    from dane_visual_feature_extraction_worker_spark.kernel import (
        FEATURE_DIM,
        SESSION_GAP_S,
    )

    for key, fixed in (
        ("FEATURE_DIM", FEATURE_DIM),
        ("SESSION_GAP_SECONDS", SESSION_GAP_S),
    ):
        v = eng.get(key)
        _require(v is None or (check_setting(v, float) and v == fixed), f"ENGINE.{key}")
    paths = tree.get("PATHS", {})
    _require(isinstance(paths, dict), "PATHS")
    # The job takes its checkpoint dir from --checkpoints only.
    _require(
        "CHECKPOINT_DIR" not in paths,
        "PATHS.CHECKPOINT_DIR is not a config key; pass --checkpoints "
        "to jobs/run_pipeline.py",
    )
    spark = tree.get("SPARK", {})
    _require(isinstance(spark, dict), "SPARK")
    extra = spark.get("EXTRA_CONF", {})
    _require(isinstance(extra, dict), "SPARK.EXTRA_CONF")
    for k, v in extra.items():
        _require(
            isinstance(k, str) and isinstance(v, (str, int, bool)),
            f"SPARK.EXTRA_CONF.{k}",
        )


def layer_trees(*trees: dict) -> dict:
    """Layered config merge, later overrides earlier — the reference's
    home-config → base_config.yml → config.yml precedence
    (base_util.py:10-16). Dicts merge recursively; scalars/lists
    replace."""
    out: dict = {}
    for tree in trees:
        for k, v in (tree or {}).items():
            if isinstance(v, dict) and isinstance(out.get(k), dict):
                out[k] = layer_trees(out[k], v)
            else:
                out[k] = v
    return out


def load_yaml_config(*paths: str) -> EngineConfig:
    """Load + validate an :class:`EngineConfig` from layered YAML files.

    ``paths`` are applied in order, later files overriding earlier —
    the reference's config layering. Raises
    :class:`ConfigValidationError` naming the failing key; never
    returns a partially-valid config.
    """
    import yaml

    layers = []
    for p in paths:
        with open(p, "r") as f:
            layers.append(yaml.safe_load(f) or {})
    tree = layer_trees(*layers)
    validate_config_tree(tree)
    eng = tree["ENGINE"]
    extra = {
        k: str(v) for k, v in tree.get("SPARK", {}).get("EXTRA_CONF", {}).items()
    }
    return EngineConfig(
        **{f: eng.get(key) for key, (f, _, _) in _ENGINE_KEYS.items()},
        extra_conf=extra,
    )
