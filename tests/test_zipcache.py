"""The zip-directory stat check (``parser_rdf_spark.zipcache``): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is re-read once and its new modules import; Spark Python
workers run the check after the package is imported."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from parser_rdf_spark import zipcache
from parser_rdf_spark.parse import parse_pages, triples_of

from conftest import pages_df

LAZY_STDLIB = sys.version_info >= (3, 13)  # zipimporter.invalidate_caches drops, never reads

PKG = "zipcache_probe_pkg"


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "VALUE = 1\n")
        for name in modules:
            z.writestr(f"{PKG}/sub/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_archive(path, ["mod"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._TABLES.pop(path, None)


def _count_reads(monkeypatch, archive):
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(LAZY_STDLIB, reason="the check is installed on CPython < 3.13 only")
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches.__module__ == zipcache.__name__
    importlib.import_module(f"{PKG}.sub.mod")
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 3  # the archive root, the package, the sub-package
    reads = _count_reads(monkeypatch, archive)

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_archive(archive, ["mod", "extra"])
    importlib.invalidate_caches()
    assert len(reads) == 1  # one re-read, shared by every importer of the archive
    assert len({id(f._files) for f in importers}) == 1
    assert importlib.import_module(f"{PKG}.sub.extra").NAME == "extra"


@pytest.mark.skipif(LAZY_STDLIB, reason="the check is installed on CPython < 3.13 only")
def test_removed_archive_empties_importers_as_stdlib(archive):
    importlib.import_module(f"{PKG}.sub")
    importer = sys.path_importer_cache[archive]
    os.unlink(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.skipif(not LAZY_STDLIB, reason="CPython < 3.13 installs the check")
def test_lazy_stdlib_is_untouched():
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.skipif(LAZY_STDLIB, reason="the check is installed on CPython < 3.13 only")
def test_spark_workers_run_the_check(spark):
    docs = {"https://z.example.org/a": "<http://e/s> <http://e/p> <http://e/o> ."}
    assert triples_of(parse_pages(pages_df(spark, docs))).count() == 1

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import parser_rdf_spark  # noqa: F401  (as every package stage does)

        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "hooked": [zipimport.zipimporter.invalidate_caches.__module__
                       == "parser_rdf_spark.zipcache"],
            "importers": [sum(isinstance(f, zipimport.zipimporter)
                              for f in sys.path_importer_cache.values())],
            "reads": [len(reads)],
        })

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "hooked boolean, importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["hooked"] and r["importers"] > 0 and r["reads"] == 0, r
