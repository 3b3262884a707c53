"""The stat-validated zipimport directory cache (oroch_spark/_zipcache.py):
unchanged archives are not re-read on ``invalidate_caches()``, changed or
missing ones behave as stock, and a reused Spark worker's task start
reads no archive directory."""
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from oroch_spark import _zipcache  # importing the package installs it

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="CPython 3.13+ reads zip directories lazily; no cache installed")


@pytest.fixture
def reads(monkeypatch):
    """Count zip central-directory reads."""
    n = [0]
    stock = zipimport._read_directory

    def counted(archive):
        n[0] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return n


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"zc_unchanged": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # the read that records the archive's stat
    n = reads[0]
    other = zipimport.zipimporter(path)  # a second importer, same archive
    imp.invalidate_caches()
    other.invalidate_caches()
    assert reads[0] == n
    assert imp._files is other._files
    assert "zc_unchanged.py" in imp._files


def test_rewritten_archive_is_reread(tmp_path, reads, monkeypatch):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"zc_old": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zc_old").X == 1
    importlib.invalidate_caches()
    before = reads[0]
    _write_zip(path, {"zc_old": "X = 1\n", "zc_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads[0] == before + 1
    try:
        assert importlib.import_module("zc_new").Y == 2
    finally:
        sys.modules.pop("zc_old", None)
        sys.modules.pop("zc_new", None)


def test_deleted_archive_behaves_as_stock(tmp_path, reads):
    path = str(tmp_path / "c.zip")
    _write_zip(path, {"zc_gone": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache
    assert imp.find_spec("zc_gone") is None
    _write_zip(path, {"zc_back": "X = 1\n"})  # back again: read afresh
    n = reads[0]
    imp.invalidate_caches()
    assert reads[0] == n + 1
    assert "zc_back.py" in imp._files


def test_install_twice_is_a_noop():
    patched = zipimport.zipimporter.invalidate_caches
    assert hasattr(patched, "_oroch_stock")
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


_SPARK_PROBE = r"""
import json, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())


def probe(batches):
    import os
    import zipimport
    import pyarrow as pa
    import oroch_spark  # noqa: F401  (as every engine closure does)

    reads = getattr(zipimport, "_probe_reads", None)
    if reads is None:  # first task on this worker: start counting
        reads = zipimport._probe_reads = [-1]
        stock = zipimport._read_directory

        def counted(archive):
            reads[0] += 1
            return stock(archive)

        zipimport._read_directory = counted
    seen, reads[0] = reads[0], 0
    zips = sum(isinstance(i, zipimport.zipimporter)
               for i in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "reads": [seen], "zips": [zips]})


rows = []
for _ in range(2):
    df = spark.range(0, 1, 1, numPartitions=1).mapInArrow(
        probe, "pid long, reads long, zips long")
    rows.append(df.collect()[0].asDict())
print(json.dumps(rows))
spark.stop()
"""


def test_reused_spark_worker_reads_no_directory(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run([sys.executable, "-c", _SPARK_PROBE],
                       capture_output=True, text=True, timeout=600,
                       env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    first, second = json.loads(r.stdout.strip().splitlines()[-1])
    assert second["pid"] == first["pid"], "worker was not reused"
    assert second["zips"] > 0  # the worker does import from zip archives
    assert first["reads"] == -1
    assert second["reads"] == 0
