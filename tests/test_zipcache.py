"""Stat-checked zip-directory invalidation (``tsv_utils_spark._zipcache``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ refreshes zip directories lazily; no wrapper")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_311
def test_unchanged_archive_is_not_reread_and_changes_are_seen(
        tmp_path, monkeypatch):
    from tsv_utils_spark import _zipcache

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_probe_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for name in ("zc_probe_a", "zc_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    import zc_probe_a

    assert zc_probe_a.X == 1
    _zipcache.install()
    _zipcache.install()  # idempotent: one wrapper, not two
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ \
        .__module__ == "zipimport"

    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or stock_read(p))
    importlib.invalidate_caches()  # first call after install reads once
    assert archive in reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # rewritten archive (new inode via os.replace): re-read, b is seen
    tmp = archive + ".tmp"
    _write_zip(tmp, {"zc_probe_a": "X = 1\n", "zc_probe_b": "Y = 2\n"})
    os.replace(tmp, archive)
    importlib.invalidate_caches()
    assert archive in reads
    import zc_probe_b

    assert zc_probe_b.Y == 2

    # deleted archive: the stock path drops it, nothing raises
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    sys.path_importer_cache.pop(archive, None)


def test_worker_reads_no_zip_directory_twice_driver_untouched(spark):
    import pyarrow as pa

    def probe(batches):
        import importlib
        import zipimport

        import tsv_utils_spark  # noqa: F401  (installs on a worker)

        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
            second = len(reads) - first
        finally:
            zipimport._read_directory = stock_read
        yield pa.RecordBatch.from_pydict(
            {"first": [first], "second": [second]})

    row = spark.range(1, numPartitions=1) \
        .mapInArrow(probe, "first long, second long").collect()[0]
    if sys.version_info < (3, 12):
        assert row.second == 0, row
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
