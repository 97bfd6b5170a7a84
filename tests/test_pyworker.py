"""The engine's Python worker daemon (pyworker.py): when a task flushes the
import caches, that the daemon is what Spark's workers run, and that a
session resolves it from any working directory."""

from __future__ import annotations

import importlib
import inspect
import io
import os
import subprocess
import sys
import textwrap
import time
import uuid
import zipfile

import pytest
from pyspark.core.files import SparkFiles
from pyspark.serializers import write_int, write_with_length
from pyspark.sql import functions as F

from big_data_processing_with_aws_glue_workshop_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task_header(files_dir, includes=()) -> io.BytesIO:
    """The part of a task's stream that ``setup_spark_files`` reads: the
    SparkFiles root, then the py-include names, framed as the JVM frames
    them."""
    buf = io.BytesIO()
    write_with_length(str(files_dir).encode("utf-8"), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode("utf-8"), buf)
    buf.seek(0)
    return buf


def _settle(path) -> None:
    """Backdate a directory's mtime past the racy window."""
    old = time.time_ns() - 60_000_000_000
    os.utime(path, ns=(old, old))


@pytest.fixture
def flushes(monkeypatch):
    """Count import-cache flushes, with the process's sys.path and
    SparkFiles state restored afterwards."""
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker)
    return calls


def test_flush_rule(flushes, tmp_path):
    setup = pyworker.SparkFilesSetup()
    files = tmp_path / "files"
    files.mkdir()
    _settle(files)

    setup(_task_header(files))
    assert len(flushes) == 1, "a worker's first task flushes"
    assert str(files) in sys.path

    setup(_task_header(files))
    setup(_task_header(files))
    assert len(flushes) == 1, "same directory, same includes: no flush"

    setup(_task_header(files, ["lib.zip"]))
    assert len(flushes) == 2, "a new py-include flushes"
    assert str(files / "lib.zip") in sys.path
    setup(_task_header(files, ["lib.zip"]))
    assert len(flushes) == 2

    (files / "dropped_mod.py").write_text("X = 1\n")
    setup(_task_header(files, ["lib.zip"]))
    assert len(flushes) == 3, "a .py file dropped into the files directory flushes"
    # the drop's mtime is too recent to rule out a second drop in the same
    # timestamp tick, so tasks keep flushing until it settles
    setup(_task_header(files, ["lib.zip"]))
    assert len(flushes) == 4
    _settle(files)
    setup(_task_header(files, ["lib.zip"]))
    setup(_task_header(files, ["lib.zip"]))
    assert len(flushes) == 5

    other = tmp_path / "other"
    other.mkdir()
    _settle(other)
    setup(_task_header(other))
    assert len(flushes) == 6, "a different files directory flushes"


def test_flush_deferral_restored_on_error(flushes):
    """A stream that ends early raises out of the upstream setup; the real
    invalidate_caches must be back in place, and nothing flushed."""
    counter = importlib.invalidate_caches
    with pytest.raises(EOFError):
        pyworker.SparkFilesSetup()(io.BytesIO(b""))
    assert importlib.invalidate_caches is counter
    assert flushes == []


def test_upstream_hook_point(flushes, tmp_path):
    """Fails on a PySpark upgrade that moves the hook: worker.main must
    still resolve setup_spark_files from pyspark.worker's globals, and the
    upstream function must still flush the import caches once per task."""
    import pyspark.daemon
    import pyspark.worker
    import pyspark.worker_util

    assert pyspark.worker.setup_spark_files is pyspark.worker_util.setup_spark_files
    main = inspect.unwrap(pyspark.worker.main)
    assert main.__globals__ is vars(pyspark.worker)
    assert "setup_spark_files" in main.__code__.co_names
    assert callable(pyspark.daemon.manager)
    for _ in range(2):
        pyspark.worker_util.setup_spark_files(_task_header(tmp_path))
    assert len(flushes) == 2


def _daemon_file(_):
    import pyspark.worker

    return type(pyspark.worker.setup_spark_files).__call__.__code__.co_filename


def test_workers_run_the_daemon(spark):
    files = set(spark.range(8, numPartitions=4).rdd.map(_daemon_file).collect())
    assert len(files) == 1
    assert os.path.samefile(files.pop(), pyworker.__file__)


@pytest.mark.parametrize("kind", ["py", "zip"])
def test_add_py_file_after_first_task(spark, tmp_path, kind):
    """A module shipped with addPyFile after the workers have run tasks is
    importable inside a UDF on those same (reused) workers."""
    frame = spark.range(8, numPartitions=4)
    assert frame.select(F.udf(lambda x: x + 1, "long")("id")).count() == 8

    name = f"shipped_{kind}_{uuid.uuid4().hex[:8]}"
    source = f"VALUE = {len(name)}\n"
    if kind == "py":
        path = tmp_path / f"{name}.py"
        path.write_text(source)
    else:
        path = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", source)
    spark.sparkContext.addPyFile(str(path))

    @F.udf("long")
    def shipped_value(x):
        return importlib.import_module(name).VALUE

    got = {r[0] for r in frame.select(shipped_value("id")).collect()}
    assert got == {len(name)}


def test_session_outside_repo_without_pythonpath(tmp_path):
    """get_session() and pandas-function queries from a working directory
    that is not the repository, with no PYTHONPATH: the workers must still
    find the daemon and the package (the pixel-stats closure calls the
    package's own decode_ppm)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import numpy as np
        from big_data_processing_with_aws_glue_workshop_spark.extensions.ivf import (
            assign_to_centroids,
        )
        from big_data_processing_with_aws_glue_workshop_spark.extensions.multimodal import (
            image_pixel_stats,
        )
        from big_data_processing_with_aws_glue_workshop_spark.session import get_session

        spark = get_session(master="local[2]", shuffle_partitions=2)
        corpus = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(6)], "vec_id long, embedding array<double>"
        )
        rows = assign_to_centroids(corpus, np.array([[0.0, 0.0], [5.0, 0.0]])).collect()
        print(sorted((r.vec_id, r.cell) for r in rows))
        ppm = b"P6\\n2 1\\n255\\n" + bytes((10, 20, 30, 30, 40, 50))
        media = spark.createDataFrame([(7, ppm)], "media_id long, content binary")
        (r,) = image_pixel_stats(media).collect()
        print((r.media_id, r.valid, r.mean_r, r.mean_g, r.mean_b, r.byte_sum))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-2:] == [
        str([(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)]),
        str((7, True, 20.0, 30.0, 40.0, 180)),
    ]
