"""The Python-worker guard (``ksj2gp_spark._worker``): an archive is
re-read only when it changed, the driver is never patched, and inside
Spark a reused worker's ``importlib.invalidate_caches()`` is cheap."""

import importlib
import os
import statistics
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from ksj2gp_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture
def guarded(monkeypatch):
    """The guard in this process for one test, undone after it."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker._invalidate_caches
    )
    added = []
    yield added
    for path, names in added:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in names:
            sys.modules.pop(name, None)


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(guarded, tmp_path, change):
    """A zip rewritten in place (a new size, or the same size and a new
    modification time) is re-read, so a module the rewrite added imports;
    an unchanged one is not re-read."""
    tag = uuid.uuid4().hex[:8]
    first, second = f"ga_{tag}", f"gb_{tag}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{first}.py": "VALUE = 1\n"})
    sys.path.insert(0, path)
    guarded.append((path, [first, second]))
    assert importlib.import_module(first).VALUE == 1

    reads = []
    reread = _worker._reread

    def counting(self):
        reads.append(self.archive)
        reread(self)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_worker, "_reread", counting)
        importlib.invalidate_caches()  # first sight of the archive: read
        importlib.invalidate_caches()  # unchanged: not read again
        assert reads.count(path) == 1

        st = os.stat(path)
        if change == "size":
            _write_zip(path, {f"{first}.py": "VALUE = 1\n", f"{second}.py": "VALUE = 2\n"})
        else:  # the same bytes but for one member's name, of equal length
            _write_zip(path, {f"{second}.py": "VALUE = 2\n"})
            assert os.stat(path).st_size == st.st_size
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads.count(path) == 2
    assert importlib.import_module(second).VALUE == 2


def test_driver_import_leaves_zipimport_alone():
    """Importing the package outside a Spark task (with or without
    pyspark loaded) does not patch ``zipimport``."""
    code = (
        "import zipimport\n"
        "f = zipimport.zipimporter.invalidate_caches\n"
        "import ksj2gp_spark\n"
        "assert zipimport.zipimporter.invalidate_caches is f\n"
        "import pyspark, importlib\n"
        "importlib.reload(ksj2gp_spark)\n"
        "assert zipimport.zipimporter.invalidate_caches is f\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def _probe(extra_import=None):
    """A task body: whether the guard was in place when the task began,
    the time of one ``importlib.invalidate_caches()`` after the package
    import, and ``VALUE`` of ``extra_import`` if given."""

    def probe(_):
        import importlib
        import time
        import zipimport

        before = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        import ksj2gp_spark  # noqa: F401  (installs the guard)

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        took = time.perf_counter() - t0
        value = importlib.import_module(extra_import).VALUE if extra_import else None
        return [(before, took, value)]

    return probe


def test_reused_worker_skips_reread(spark):
    """Inside a task that starts on a worker where the package was
    imported before, ``importlib.invalidate_caches()`` takes under 5 ms
    (without the guard it re-reads pyspark.zip: ~0.2 s)."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).mapPartitions(_probe()).collect()
    rows = sc.parallelize(range(8), 8).mapPartitions(_probe()).collect()
    guarded = [took for before, took, _ in rows if before]
    assert guarded, rows
    assert statistics.median(guarded) < 0.005, rows


def test_py_file_added_after_guard_imports(spark, tmp_path):
    """A zip added with ``addPyFile`` after the guard is in place still
    imports inside a task."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).mapPartitions(_probe()).collect()
    name = f"gpy_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    sc.addPyFile(path)
    rows = sc.parallelize(range(8), 8).mapPartitions(_probe(name)).collect()
    assert any(before for before, _, _ in rows), rows
    assert [value for _, _, value in rows] == [42] * 8
