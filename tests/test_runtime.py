"""The zip-directory reuse installed by the package: ``importlib.
invalidate_caches()`` (which PySpark's worker calls at the start of every
task) must not re-read an unchanged archive, must still pick up a rewritten
one, and must be live inside the Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import threading
import zipfile
import zipimport

import pandas as pd
import pytest

from distributed_api_etl_spark.core import runtime

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads eagerly only before 3.13"
)


def _write_zip(path, modules):
    """Replace the archive at once, as a deployment does (a reader never
    sees a half-written directory)."""
    with zipfile.ZipFile(f"{path}.tmp", "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")
        zf.writestr("pkg/__init__.py", "")
    os.replace(f"{path}.tmp", path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path (two importers: the archive and a package inside
    it), with every trace it leaves in the import system removed after."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zrt_a": 1})
    entries = [path, f"{path}/pkg"]
    for entry in entries:
        monkeypatch.syspath_prepend(entry)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", runtime._invalidate_if_changed
    )
    yield path
    for entry in entries:
        sys.path_importer_cache.pop(entry, None)
    for name in ("zrt_a", "zrt_b"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(path, None)
    runtime._ZIP_STAMPS.pop(path, None)


def _count_reads(monkeypatch, path):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_reread
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    import zrt_a  # the sys.path search creates both importers

    assert zrt_a.VALUE == 1
    assert {zipimport.zipimporter} == {
        type(sys.path_importer_cache[e]) for e in (archive, f"{archive}/pkg")
    }
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()  # no stamp yet: one read shared by both importers
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1


@eager_reread
def test_rewritten_archive_is_reread(archive, monkeypatch):
    import zrt_a  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(archive, {"zrt_a": 1, "zrt_b": 2})
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1
    import zrt_b

    assert zrt_b.VALUE == 2


@eager_reread
def test_concurrent_invalidation_ends_on_the_latest_directory(archive):
    """Threads invalidating while the archive is rewritten must leave the
    importer on the directory of the archive's final content."""
    import zrt_a  # noqa: F401

    stop = threading.Event()
    errors = []

    def invalidate():
        try:
            while not stop.is_set():
                importlib.invalidate_caches()
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=invalidate) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for k in range(30):
            # a new size every time: stamps must differ even within one
            # filesystem timestamp tick
            value = "x" * k
            _write_zip(archive, {"zrt_a": value, **({"zrt_b": value} if k % 2 else {})})
    finally:
        stop.set()
        for t in threads:
            t.join(10)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == zipimport._read_directory(archive)
    import zrt_b

    assert zrt_b.VALUE == "x" * 29


def test_install_is_a_no_op_from_python_3_13(monkeypatch):
    cpython = runtime._reread_zip_directory
    monkeypatch.setattr(runtime.sys, "version_info", (3, 13, 0, "final", 0))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", cpython)
    runtime.reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is cpython


def test_installed_in_python_workers(spark):
    """A worker that unpickles a kernel referencing the library has the
    replacement installed (the package ``__init__`` does it)."""

    def kernel(batches):
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"installed": [zipimport.zipimporter.invalidate_caches
                           is runtime._invalidate_if_changed]}
        )

    out = spark.range(1, numPartitions=1).mapInPandas(kernel, "installed boolean").collect()
    assert [r.installed for r in out] == [sys.version_info < (3, 13)]
