"""The stat-guarded ``zipimporter.invalidate_caches`` (shipping.py):
unchanged archives are not re-read, changed ones are, and the guard is
installed only where it is meant to be (reused Spark workers on
CPython < 3.13)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from article_extractor_spark import shipping

_STDLIB_INVALIDATE = zipimport.zipimporter.__dict__["invalidate_caches"]

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 defers the zip directory re-read itself",
)


@pytest.fixture
def restore_zipimport(monkeypatch):
    """Undo the guard (and its stat memo) after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _STDLIB_INVALIDATE
    )
    monkeypatch.setattr(shipping, "_ARCHIVE_STATS", {})
    yield


@pytest.fixture
def read_counter(monkeypatch):
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    os.replace(tmp, path)  # new inode, like a re-fetched archive


_PKG = {
    "zgpkg/__init__.py": "",
    "zgpkg/sub/__init__.py": "",
    "zgpkg/sub/deep/__init__.py": "",
    "zgpkg/sub/deep/leaf.py": "VALUE = 1\n",
}


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    archive = tmp_path / "zgpkg.zip"
    _write_zip(archive, _PKG)
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if str(archive) in k]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


def _reads_of(reads: list[str], archive) -> int:
    return sum(1 for a in reads if a == str(archive))


@needs_guard
def test_guard_skips_unchanged_archive_and_sees_rewrite(
    restore_zipimport, zipped_pkg, read_counter, monkeypatch
):
    from zgpkg.sub.deep import leaf

    assert leaf.VALUE == 1
    # one importer per package level, all into the same archive
    importers = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter)
        and imp.archive == str(zipped_pkg)
    ]
    assert len(importers) >= 3

    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    assert shipping.guard_zipimport_invalidation() is True
    assert shipping.guard_zipimport_invalidation() is True  # idempotent
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not _STDLIB_INVALIDATE

    # first guarded call: no stat recorded yet, so ONE read serves
    # every importer of the archive
    read_counter.clear()
    importlib.invalidate_caches()
    assert _reads_of(read_counter, zipped_pkg) == 1
    read_counter.clear()
    # unchanged archive: no read at all
    for _ in range(3):
        importlib.invalidate_caches()
    assert _reads_of(read_counter, zipped_pkg) == 0

    # rewritten archive with a new module: read once, then importable
    _write_zip(
        zipped_pkg, {**_PKG, "zgpkg/sub/deep/fresh.py": "VALUE = 2\n"}
    )
    importlib.invalidate_caches()
    assert _reads_of(read_counter, zipped_pkg) == 1
    from zgpkg.sub.deep import fresh

    assert fresh.VALUE == 2
    assert all("zgpkg/sub/deep/fresh.py" in imp._files for imp in importers)
    read_counter.clear()
    importlib.invalidate_caches()
    assert _reads_of(read_counter, zipped_pkg) == 0
    assert zipimport.zipimporter.invalidate_caches is guarded


@needs_guard
def test_guard_removed_archive_falls_back_to_stdlib(
    restore_zipimport, zipped_pkg, monkeypatch
):
    import zgpkg.sub  # noqa: F401

    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    assert shipping.guard_zipimport_invalidation()
    importlib.invalidate_caches()
    os.remove(zipped_pkg)
    importlib.invalidate_caches()
    assert str(zipped_pkg) not in zipimport._zip_directory_cache
    assert str(zipped_pkg) not in shipping._ARCHIVE_STATS


@pytest.mark.parametrize(
    "reuse, version",
    [(None, sys.version_info), ("1", (3, 13, 0, "final", 0))],
    ids=["driver-no-reuse-env", "python-3.13"],
)
def test_guard_not_installed_outside_reused_workers_below_313(
    restore_zipimport, monkeypatch, reuse, version
):
    if reuse is None:
        monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    else:
        monkeypatch.setenv("SPARK_REUSE_WORKER", reuse)
    monkeypatch.setattr(sys, "version_info", version)
    assert shipping.guard_zipimport_invalidation() is False
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is (
        _STDLIB_INVALIDATE
    )


@needs_guard
def test_guard_installed_in_reused_spark_workers_only(spark):
    """Inside real Python workers the package import installed the
    guard, and a repeated ``importlib.invalidate_caches()`` reads no
    archive; the driver keeps the stdlib method."""
    import pyarrow as pa

    from article_extractor_spark.shipping import ensure_shipped

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import article_extractor_spark  # noqa: F401  (as a task's import)

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        archives = {
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }
        yield pa.RecordBatch.from_pydict(
            {
                "reuse": [os.environ.get("SPARK_REUSE_WORKER", "")],
                "guarded": [
                    getattr(
                        zipimport.zipimporter.invalidate_caches,
                        "_stat_guarded",
                        False,
                    )
                ],
                "archives": [len(archives)],
                "reads": [len(reads)],
            }
        )

    ensure_shipped(spark)
    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(
            probe, "reuse string, guarded boolean, archives long, reads long"
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["reuse"] == "1"
        assert r["guarded"] is True
        assert r["archives"] >= 1  # pyspark.zip / py4j zip on the path
        assert r["reads"] == 0
    assert "SPARK_REUSE_WORKER" not in os.environ
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is (
        _STDLIB_INVALIDATE
    )
