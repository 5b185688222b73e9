"""The zip re-read guard (``watermark_detector_spark._pyworker``).

A reused pyspark worker calls ``importlib.invalidate_caches()`` before
every task; before CPython 3.13 that re-parses the directory of every
zip an importer is cached for. The guard keeps the re-read for
archives that changed and skips it for the rest.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from watermark_detector_spark import _pyworker

eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from CPython 3.13 on")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def unguarded(monkeypatch):
    """The stock method back in place (importing the package installed
    the guard in this process), so a test can install it afresh."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", getattr(
        cls.invalidate_caches, "__wrapped__", cls.invalidate_caches))


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wmd_zip_a": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [path, *sys.path])
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in ("wmd_zip_a", "wmd_zip_b"):
        sys.modules.pop(name, None)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@eager_zip_invalidation
def test_unchanged_archive_is_never_reread(unguarded, archive, monkeypatch):
    assert importlib.import_module("wmd_zip_a").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    assert _pyworker.guard_zip_invalidation()
    reads = _count_reads(monkeypatch)
    # the first call after install included: installing records every
    # cached importer as freshly read
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@eager_zip_invalidation
def test_rewritten_archive_is_reread(unguarded, archive, monkeypatch):
    importlib.import_module("wmd_zip_a")
    assert _pyworker.guard_zip_invalidation()
    _write_zip(archive, {"wmd_zip_a": "X = 1\n", "wmd_zip_b": "Y = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("wmd_zip_b").Y == 2


@eager_zip_invalidation
def test_second_install_is_a_noop(unguarded):
    assert _pyworker.guard_zip_invalidation()
    guarded = zipimport.zipimporter.invalidate_caches
    assert not _pyworker.guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_nothing_patched_from_python_3_13(unguarded, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not _pyworker.guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stock


@eager_zip_invalidation
def test_engine_udf_installs_guard_in_workers(spark):
    from watermark_detector_spark.functions.extract import extract_series

    def probe(batches):
        import zipimport

        # unpickling this closure imports the engine package for
        # extract_series, which is what installs the guard
        assert callable(extract_series)
        owner = zipimport.zipimporter.invalidate_caches.__module__
        for pdf in batches:
            yield pd.DataFrame({"owner": [owner] * len(pdf)})

    rows = (spark.range(8, numPartitions=4)
            .mapInPandas(probe, "owner string").collect())
    assert len(rows) == 8
    assert {r.owner for r in rows} == {_pyworker.__name__}
