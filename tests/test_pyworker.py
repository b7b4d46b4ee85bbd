"""pyworker.lazy_zip_caches: a zip importer re-reads its archive's
directory only when the file changed, and primed Spark workers carry the
fix."""

import importlib
import logging
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from mpds_spark import pyworker
from mpds_spark.session import _prime_python_workers

eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from Python 3.13 on"
)


@pytest.fixture
def reads(monkeypatch):
    """The eager method back in place, no stamps, and a list that records
    every archive whose directory is read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._reread)
    monkeypatch.setattr(pyworker, "_STAMPS", {})
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in files.items():
            z.writestr(name, src)


@eager_only
def test_second_invalidate_does_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)  # reads the directory once
    reads.clear()
    pyworker.lazy_zip_caches()
    imp.invalidate_caches()
    assert reads == [archive]  # no stamp yet: one read
    imp.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]


@eager_only
def test_rewritten_archive_is_reread_and_imports(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("lz_mod_a", "lz_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    pyworker.lazy_zip_caches()
    importlib.invalidate_caches()
    assert importlib.import_module("lz_mod_a").X == 1
    n = len(reads)

    # new size: a second module appears
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n", "lz_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()  # the new stamp is kept: no second read
    assert reads[n:] == [archive]
    assert importlib.import_module("lz_mod_b").Y == 2

    # same size, new mtime only: still re-read, and the new source loads
    _write_zip(archive, {"lz_mod_a.py": "X = 3\n", "lz_mod_b.py": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[n + 1 :] == [archive]
    del sys.modules["lz_mod_a"]
    assert importlib.import_module("lz_mod_a").X == 3


@eager_only
def test_install_twice_is_noop(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lz_mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads.clear()
    pyworker.lazy_zip_caches()
    method = zipimport.zipimporter.invalidate_caches
    pyworker.lazy_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is method
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [archive]


def test_noop_from_python_313(reads, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    pyworker.lazy_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is pyworker._reread


def test_primed_workers_have_lazy_zip_caches(spark):
    """Every pool worker that session priming touched reports the fix as
    installed when a later job runs in it."""
    primed = _prime_python_workers(spark)
    assert primed

    def probe(batches):
        import os
        import sys
        import zipimport

        from mpds_spark.pyworker import _invalidate_caches

        lazy = (
            zipimport.zipimporter.invalidate_caches is _invalidate_caches
            or sys.version_info >= (3, 13)
        )
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "lazy": [lazy]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(2 * n, numPartitions=2 * n).mapInArrow(
        probe, "pid long, lazy boolean"
    ).collect()
    reused = {r.pid: r.lazy for r in rows if r.pid in primed}
    assert reused, "no task ran in a primed worker"
    assert all(reused.values())


def test_priming_failure_logs_one_warning(caplog):
    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    with caplog.at_level(logging.WARNING, logger="mpds_spark.session"):
        assert _prime_python_workers(NoContext()) == set()
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert "priming failed" in caplog.records[0].getMessage()
