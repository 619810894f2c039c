"""What ``get_spark`` sets up beyond Spark's defaults.

- Python workers fork from ``decaton_spark._worker_daemon``, whose zip
  importers re-read an archive only when it changed, so a task no
  longer re-reads ``pyspark.zip`` and the jars on ``PYTHONPATH`` when
  PySpark invalidates import caches; a rewritten zip is still re-read.
- Streaming checkpoints go through ``FileSystemBasedCheckpointFileManager``,
  which keeps the no-overwrite contract and the checksum files.
"""

from __future__ import annotations

import os
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from decaton_spark.session import CHECKPOINT_FILE_MANAGER


def test_worker_rereads_only_changed_zips(spark, tmp_path):
    archive = str(tmp_path / "worker_mods.zip")

    def write_zip(module: str, body: str) -> None:
        """A one-module zip, written aside and moved over ``archive``."""
        with zipfile.ZipFile(f"{archive}.tmp", "w") as z:
            z.writestr(f"{module}.py", body)
        os.replace(f"{archive}.tmp", archive)

    write_zip("zmod_first", "VALUE = 1\n")

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            sys.path.append(archive)
            first = __import__("zmod_first").VALUE
            importlib.invalidate_caches()
            del reads[:]
            importlib.invalidate_caches()
            unchanged = len(reads)
            # a rewritten archive, with a module the old one lacked
            write_zip("zmod_second", "VALUE = 22\n")
            importlib.invalidate_caches()
            rewritten = reads.count(archive)
            second = __import__("zmod_second").VALUE
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(archive)
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"unchanged": [unchanged], "rewritten": [rewritten],
             "first": [first], "second": [second]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "unchanged long, rewritten long, first long, second long")
        .collect()[0]
    )
    assert row["unchanged"] == 0, "an unchanged archive was re-read"
    assert row["rewritten"] == 1, "the rewritten archive was not re-read once"
    assert (row["first"], row["second"]) == (1, 22)


def test_checkpoint_manager_keeps_no_overwrite_and_checksums(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    final = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/1")
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        final.getParent(), conf
    )
    assert fm.getClass().getName() == CHECKPOINT_FILE_MANAGER

    out = fm.createAtomic(final, False)
    out.write(7)
    out.close()
    assert os.path.exists(tmp_path / "1")
    assert os.path.exists(tmp_path / ".1.crc"), "checksum file not written"

    out = fm.createAtomic(final, False)
    out.write(8)
    with pytest.raises(Py4JJavaError) as e:
        out.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(e.value.java_exception), e.value.java_exception
    with open(tmp_path / "1", "rb") as f:
        assert f.read() == bytes([7])
