"""Launch-directory-proof worker imports (VERDICT r8 #1).

Spark's forked Python workers inherit ``PYTHONPATH``, not the driver's
``sys.path``. A driver that made ``decaton_spark`` importable only via
``sys.path.insert`` (any launch dir except the checkout) used to
produce workers that could not unpickle the Arrow-batched protobuf
decoder's closure (its ``parse_task_request`` global is serialized by
module reference): ``ModuleNotFoundError: No module named
'decaton_spark'`` — reproduced from ``tools/`` before the fix.
``decaton_spark.__init__._ensure_workers_can_import`` now appends the
package root to PYTHONPATH before any SparkSession exists.

The pin runs a real subprocess: cwd is a temp dir, PYTHONPATH is
scrubbed of the repo root, the driver gets the package via sys.path
only, and the python-engine decode (mapInPandas → worker import) must
round-trip. Reference shape: Decaton is consumable as a library from
any working directory (/root/reference/processor/build.gradle).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})   # driver-side import ONLY (the hazard)
import decaton_spark  # noqa: F401  — must export PYTHONPATH for workers
from pyspark.sql import SparkSession
from decaton_spark import protocol as pb

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("worker-import-pin")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
meta = pb.task_metadata_hex(
    timestamp_millis="CAST(1704412800000 AS BIGINT)",
    source_application_id="'svc'",
    source_instance_id="'i-9'",
    retry_count="CAST(2 AS BIGINT)",
    scheduled_time_millis="CAST(0 AS BIGINT)",
)
df = spark.sql(
    "SELECT unhex(" + pb.task_request_hex(meta, "'payload'") + ") AS wire"
)
row = pb.decode_task_requests(df, "wire").collect()[0]
assert row["pb_source_application_id"] == "svc", row
assert row["pb_retry_count"] == 2, row
assert bytes(row["serialized_task"]) == b"payload", row
print("WORKER_IMPORT_OK")
"""


def test_python_decoder_from_foreign_cwd(tmp_path):
    env = dict(os.environ)
    # Scrub every channel that could leak the repo root to the worker:
    # the pin must prove the package's own __init__ exports it.
    parts = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    if parts:
        env["PYTHONPATH"] = os.pathsep.join(parts)
    else:
        env.pop("PYTHONPATH", None)
    script = tmp_path / "driver.py"
    script.write_text(_SCRIPT.format(repo=REPO))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "WORKER_IMPORT_OK" in proc.stdout, proc.stdout
