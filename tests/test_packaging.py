"""The ``--py-files`` zip carries what the engine loads at run time."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dane_visual_feature_extraction_worker_spark"

# Runs with the zip first on sys.path and without the checkout, so the
# package can only come from the zip; prints the token bag's Java source
# as the kernel loads it.
_READ_FROM_ZIP = f"""
import sys
zip_path, root = sys.argv[1], sys.argv[2]
sys.path[:] = [zip_path] + [p for p in sys.path if p not in ("", root)]
from {PACKAGE} import kernel
from pyspark import SparkContext
assert kernel.__file__.startswith(zip_path), kernel.__file__
sys.stdout.write(kernel._token_bag_source())
assert SparkContext._active_spark_context is None
"""


def test_package_zip_carries_the_token_bag_source(tmp_path):
    """``scripts/build_package.sh`` zips ``TokenBag.java`` with the
    package, and the kernel reads it from the zip: spark-submit imports
    the package from there, where the file has no path of its own. The
    read starts no Spark."""
    subprocess.run(["bash", "scripts/build_package.sh"], cwd=ROOT, check=True)
    zip_path = os.path.join(ROOT, "dist", "dane_feature_engine.zip")
    with open(os.path.join(ROOT, PACKAGE, "TokenBag.java"), encoding="utf-8") as f:
        source = f.read()
    with zipfile.ZipFile(zip_path) as z:
        assert z.read(f"{PACKAGE}/TokenBag.java").decode("utf-8") == source
    read = subprocess.run(
        [sys.executable, "-c", _READ_FROM_ZIP, zip_path, ROOT],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert read.returncode == 0, read.stderr
    assert read.stdout == source
