"""The Python worker daemon (``pyworker``): zip directories are re-read only
when the archive changed, workers run under it, and they find it whatever
the driver's working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from market_data_pipeline_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport reads lazily from 3.13 on")
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    # the patch is process-wide: restore the stock zipimport after the test
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(pyworker, "_stamps", {})
    pyworker.install()
    patched, read_directory = zipimport.zipimporter.invalidate_caches, zipimport._read_directory
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert zipimport._read_directory is read_directory

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("alpha.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("alpha") is not None
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("alpha.py", "X = 1\n")
        z.writestr("beta.py", "Y = 2\n")
    importer.invalidate_caches()
    assert importer._files is not files
    spec = importer.find_spec("beta")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2


def test_python_tasks_do_not_reread_unchanged_archives(spark):
    def count_rereads(_):
        import importlib
        import sys
        import zipimport

        importers = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        before = [i._files for i in importers]
        importlib.invalidate_caches()
        yield len(importers), sum(i._files is not f for i, f in zip(importers, before))

    [(importers, rereads)] = spark.sparkContext.parallelize([0], 1).mapPartitions(count_rereads).collect()
    assert importers >= 2  # the spark-core jar and pyspark.zip are on the worker path
    assert rereads == 0


def test_python_tasks_run_from_another_cwd(tmp_path):
    # the package is importable only through the driver's sys.path, not
    # PYTHONPATH or the cwd: workers must still find the daemon module
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from market_data_pipeline_spark.session import get_spark
spark = get_spark("cwd-check")
ids = spark.range(4).mapInPandas(lambda it: (p for p in it), "id long").collect()
assert sorted(r.id for r in ids) == [0, 1, 2, 3], ids
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        # guards against hangs: a failing worker retries, then the job fails
        timeout=300,
        env=env,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-3000:]
