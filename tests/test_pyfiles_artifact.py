"""``spark-submit --py-files`` smoke test (VERDICT r8 next #4).

Builds the zip artifact with ``tools/make_pyz.py`` and runs a real
``spark-submit`` whose driver script never touches the repo checkout:
cwd is a temp dir, PYTHONPATH is scrubbed, and the only way to import
``decaton_spark`` is the shipped archive. The driver proves the import
came from the zip (``__file__`` under the archive), then runs the
Arrow-batched protobuf decode — the engine's one worker-side Python
import — so forked workers must ALSO resolve the package from the
archive. This completes the launch-directory-proof story
(test_worker_imports.py) at cluster-packaging level.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
import make_pyz  # noqa: E402

_DRIVER = """
import os, sys
assert not any(os.path.abspath(p) == {repo!r} for p in sys.path if p), \
    "repo root leaked onto sys.path — the pin would be vacuous"
import decaton_spark
assert decaton_spark.__file__ and {zipname!r} in decaton_spark.__file__, \
    "decaton_spark not imported from the shipped archive: " + str(decaton_spark.__file__)
from pyspark.sql import SparkSession
from decaton_spark import protocol as pb

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
meta = pb.task_metadata_hex(
    timestamp_millis="CAST(99 AS BIGINT)",
    source_application_id="'zip-app'",
    source_instance_id="''",
    retry_count="CAST(1 AS BIGINT)",
    scheduled_time_millis="CAST(0 AS BIGINT)",
)
df = spark.sql("SELECT unhex(" + pb.task_request_hex(meta, "'zp'") + ") AS wire")
row = pb.decode_task_requests(df, "wire").collect()[0]
assert row["pb_source_application_id"] == "zip-app", row
assert bytes(row["serialized_task"]) == b"zp", row
print("PYFILES_SMOKE_OK")
"""


def test_build_is_deterministic(tmp_path):
    a = make_pyz.build(str(tmp_path / "a.zip"))
    b = make_pyz.build(str(tmp_path / "b.zip"))
    assert open(a, "rb").read() == open(b, "rb").read()
    names = zipfile.ZipFile(a).namelist()
    assert "decaton_spark/__init__.py" in names
    assert "decaton_spark/protocol.py" in names
    assert not any("__pycache__" in n for n in names)


def test_spark_submit_py_files(tmp_path):
    spark_submit = os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")
    archive = make_pyz.build(str(tmp_path / "decaton_spark.zip"))
    driver = tmp_path / "app.py"
    driver.write_text(
        _DRIVER.format(repo=REPO, zipname=os.path.basename(archive))
    )
    env = dict(os.environ)
    parts = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    if parts:
        env["PYTHONPATH"] = os.pathsep.join(parts)
    else:
        env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            spark_submit,
            "--master",
            "local[2]",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.shuffle.partitions=2",
            "--py-files",
            archive,
            str(driver),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-3000:])
    assert "PYFILES_SMOKE_OK" in proc.stdout, proc.stdout[-2000:]
