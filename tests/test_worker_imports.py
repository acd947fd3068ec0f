"""``_drop_zip_importers``: the redislog entry points forget cached zip
importers so that the ``importlib.invalidate_caches()`` a pyspark worker
runs at the start of every call re-reads no zip directory (CPython < 3.13),
while imports from zips keep working with CPython 3.13's lazy semantics.
No Spark session: the entry points are called directly."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from redis_streams_spark.sources import datasource
from redis_streams_spark.sources.datasource import (
    RangePartition,
    RedisLogBatchReader,
    RedisLogDataSource,
    RedisLogStreamReader,
    _drop_zip_importers,
    _stage_batches,
)
from redis_streams_spark.sources.stream_log import StreamLog

LAZY = sys.version_info >= (3, 13)


def _write_zip(path, pkg: str, modules: dict[str, str]) -> None:
    """(Re)write ``path`` with package ``pkg``, a sub-package ``sub`` and
    the given ``{module: source}`` in both."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"{pkg}/{name}.py", src)
            z.writestr(f"{pkg}/sub/{name}.py", src)


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A package imported from a zip on sys.path (one zipimporter for the
    archive root, one per imported package); returns (zip path, name)."""
    pkg = f"zpkg_{tmp_path.name.replace('-', '_')}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, pkg, {"mod": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(f"{pkg}.mod")
    importlib.import_module(f"{pkg}.sub.mod")
    yield str(archive), pkg
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


def _zip_importers() -> dict:
    return {
        k: f
        for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    }


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_invalidate_caches_reads_no_zip_directory_after_helper(zpkg, monkeypatch):
    archive, _ = zpkg
    assert len([f for f in _zip_importers().values() if f.archive == archive]) >= 3
    reads = _count_directory_reads(monkeypatch)
    if LAZY:
        before = dict(sys.path_importer_cache), dict(zipimport._zip_directory_cache)
        _drop_zip_importers()
        assert (dict(sys.path_importer_cache), dict(zipimport._zip_directory_cache)) == before
        return
    importlib.invalidate_caches()
    assert archive in reads  # what every worker call pays without the helper
    reads.clear()
    _drop_zip_importers()
    assert not _zip_importers()
    importlib.invalidate_caches()
    assert reads == []


def test_imported_module_still_imports_after_helper(zpkg):
    _, pkg = zpkg
    _drop_zip_importers()
    importlib.invalidate_caches()
    for name in (f"{pkg}.mod", f"{pkg}.sub.mod"):
        del sys.modules[name]
        assert importlib.import_module(name).X == 1


def test_zip_rewritten_in_place_serves_new_module(zpkg):
    archive, pkg = zpkg
    _drop_zip_importers()
    _write_zip(archive, pkg, {"mod": "X = 1\n", "added": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.added").Y == 2
    assert importlib.import_module(f"{pkg}.sub.added").Y == 2


def test_every_worker_entry_point_drops_zip_importers(tmp_path, monkeypatch):
    calls: list[str] = []
    monkeypatch.setattr(datasource, "_drop_zip_importers", lambda: calls.append("x"))
    root = str(tmp_path)
    StreamLog(root, "s").append_many([{"a": "1"}])
    options = {"path": root, "stream": "s"}
    source = RedisLogDataSource(options)
    part = RangePartition(root, "s", 0, 1)

    def called(entry) -> int:
        calls.clear()
        entry()
        return len(calls)

    assert called(lambda: source.streamWriter(None, False)) == 1
    assert called(lambda: source.writer(None, False)) == 1
    assert called(lambda: list(RedisLogBatchReader(options).read(part))) == 1
    assert called(lambda: list(RedisLogStreamReader(options).read(part))) == 1
    assert called(lambda: _stage_batches(iter([]))) == 1
