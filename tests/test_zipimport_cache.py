"""zipimport_cache: ``importlib.invalidate_caches()`` re-reads a zip
archive's central directory only when the archive changed — in the
driver and in every Python worker that imported the engine."""

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from pero_ocr_spark import zipimport_cache

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily already",
)


@pytest.fixture
def directory_reads(monkeypatch):
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@needs_patch
def test_rereads_only_when_archive_changes(tmp_path, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_old.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    try:
        directory_reads.clear()
        imp.invalidate_caches()
        assert len(directory_reads) == 1  # never stamped: read
        imp.invalidate_caches()
        assert len(directory_reads) == 1  # unchanged: no read

        _write_zip(
            archive, {"zc_old.py": "X = 1\n", "zc_new.py": "Y = 2\n"}
        )
        imp.invalidate_caches()
        assert len(directory_reads) == 2  # new size: read again
        spec = imp.find_spec("zc_new")
        assert spec is not None
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.Y == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


@needs_patch
def test_unreadable_archive_is_not_trusted(tmp_path, directory_reads):
    archive = tmp_path / "gone.zip"
    _write_zip(str(archive), {"zc_gone.py": "Z = 3\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    archive.unlink()
    imp.invalidate_caches()
    assert imp.find_spec("zc_gone") is None
    assert str(archive) not in zipimport._zip_directory_cache
    # recreated with the same bytes: read again, not trusted stale
    _write_zip(str(archive), {"zc_gone.py": "Z = 3\n"})
    directory_reads.clear()
    imp.invalidate_caches()
    assert len(directory_reads) == 1
    assert imp.find_spec("zc_gone") is not None
    zipimport._zip_directory_cache.pop(str(archive), None)


@needs_patch
def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert hasattr(patched, "_reread")
    zipimport_cache.install()
    zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def _make_second_invalidate_reads():
    # defined inside a factory so it pickles BY VALUE to the workers
    def second_invalidate_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        import pero_ocr_spark.operators  # noqa: F401 — an engine module

        importlib.invalidate_caches()
        reads = 0
        orig = zipimport._read_directory

        def counting(path):
            nonlocal reads
            reads += 1
            return orig(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [reads]})

    return second_invalidate_reads


def test_workers_skip_unchanged_archives(spark):
    df = spark.range(0, 64, numPartitions=8)
    got = df.mapInPandas(
        _make_second_invalidate_reads(), "reads long"
    ).collect()
    assert len(got) == 8
    assert [r.reads for r in got] == [0] * 8
