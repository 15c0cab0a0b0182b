"""The zip-directory guard of functions/pyworker.py: skipped re-reads
while an archive is unchanged, re-reads once it changes, and its
install rules (workers only, idempotent, CPython < 3.13 only)."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from great_expectations_spark.functions import pyworker

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def restore_guard():
    yield
    zipimport.zipimporter.invalidate_caches = pyworker._original
    pyworker._stamps.clear()


@pytest.fixture
def zip_on_path(tmp_path, restore_guard):
    path = str(tmp_path / "probe.zip")
    tag = uuid.uuid4().hex[:8]
    names = (f"ges_probe_a_{tag}", f"ges_probe_b_{tag}")
    _write_zip(path, {names[0]: 1})
    sys.path.insert(0, path)
    yield path, names
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for n in names:
        sys.modules.pop(n, None)


@pytest.fixture
def read_counter(monkeypatch):
    reads = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_guard
def test_guard_skips_unchanged_and_rereads_changed(zip_on_path, read_counter):
    path, (first, second) = zip_on_path
    assert importlib.import_module(first).VALUE == 1

    assert pyworker.install()
    importlib.invalidate_caches()  # first guarded call stamps every archive
    del read_counter[:]
    importlib.invalidate_caches()
    assert read_counter == []

    _write_zip(path, {first: 1, second: 2})  # new mtime and size
    importlib.invalidate_caches()
    assert read_counter == [path]
    assert importlib.import_module(second).VALUE == 2

    del read_counter[:]
    importlib.invalidate_caches()
    assert read_counter == []


@needs_guard
def test_install_is_idempotent(restore_guard):
    assert not pyworker.installed()
    assert pyworker.install()
    guarded = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_no_install_on_313(monkeypatch, restore_guard):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_not_installed_outside_worker(restore_guard):
    assert not pyworker.install_in_worker()
    assert not pyworker.installed()


# ---- real PySpark workers ------------------------------------------------


@needs_guard
def test_worker_tasks_skip_rereads(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def zeros(v: pd.Series) -> pd.Series:
        import great_expectations_spark  # noqa: F401  (as an engine UDF would)

        return pd.Series(0, index=v.index, dtype="int64")

    def reads_per_invalidate(_):
        """Runs in a worker: reads done by two back-to-back
        invalidate_caches() calls, the number of distinct archives behind
        the cached zipimporters, and whether the guard is installed."""
        import importlib
        import sys
        import zipimport

        from great_expectations_spark.functions import pyworker

        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
            second = len(reads) - first
        finally:
            zipimport._read_directory = orig
        archives = {
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        return first, second, len(archives), pyworker.installed()

    warm = spark.range(0, 64, numPartitions=2).select(zeros("id").alias("z"))
    assert warm.agg(F.sum("z")).first()[0] == 0

    rows = spark.sparkContext.parallelize(range(2), 2).map(
        reads_per_invalidate
    ).collect()
    for first, second, n_archives, installed in rows:
        assert installed
        assert second == 0
        # at most one read per archive, not one per cached importer
        assert first <= n_archives
    assert not pyworker.installed(), "guard installed in the driver"


def test_add_py_file_mid_session(spark, tmp_path_factory):
    name = f"ges_added_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path_factory.mktemp("pyfile") / f"{name}.zip")
    _write_zip(path, {name: 41})
    spark.sparkContext.addPyFile(path)

    def probe(_):
        import importlib

        return importlib.import_module(name).VALUE + 1

    assert spark.sparkContext.parallelize([0], 1).map(probe).collect() == [42]
