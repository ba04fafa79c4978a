"""Worker-process-scoped resource cache + token-bucket rate limiter.

``ProcessScope`` keeps per-process resources (token providers, the mock
transport engine) across Spark tasks within one Python worker process —
effective because ``spark.python.worker.reuse`` defaults to true. Loop-bound
resources (HTTP connection pools: sockets belong to the event loop) must NOT
live here; the partition executor keeps those task-scoped (see
transport/base.py docstring).

``RateLimiter`` implements ``execution.max_requests_per_second`` for real
(documented-but-absent in the reference, docs/configuration.md:23,86).

``reuse_unchanged_zip_directories`` removes a fixed per-task cost of every
Python task: PySpark's worker calls ``importlib.invalidate_caches()`` at
the start of each task, and on Python < 3.13 every ``zipimporter`` then
re-reads the whole directory of its archive (``pyspark.zip``, the py4j
zip) — about 0.25 s per task on CPython 3.11 on a 4-core box, against a
few tens of ms for the task's own work. The package ``__init__`` installs
it, so every worker that unpickles a library function has it.
"""

from __future__ import annotations

import asyncio
import os
import sys
import threading
import time
import zipimport
from collections.abc import Callable
from typing import Any, TypeVar

T = TypeVar("T")


class ProcessScope:
    """Lazy once-per-process factory cache, thread-safe."""

    _lock = threading.Lock()
    _instances: dict[str, Any] = {}

    @classmethod
    def get(cls, key: str, factory: Callable[[], T]) -> T:
        inst = cls._instances.get(key)
        if inst is None:
            with cls._lock:
                inst = cls._instances.get(key)
                if inst is None:
                    inst = factory()
                    cls._instances[key] = inst
        return inst

    @classmethod
    def clear(cls) -> None:
        """Drop every instance. None holds a socket or a thread: engines
        that own connections are loop-bound and never cached here."""
        with cls._lock:
            cls._instances.clear()


class RateLimiter:
    """Async token bucket: ``rate`` tokens/sec, burst capacity = ``rate``.

    awaitable ``acquire()`` sleeps just long enough to honor the rate; cheap
    enough to call per request. Monotonic-clock based, loop-agnostic.
    """

    def __init__(self, rate: float, capacity: float | None = None) -> None:
        if rate <= 0:
            raise ValueError("rate must be positive")
        self.rate = rate
        self.capacity = capacity if capacity is not None else max(1.0, rate)
        self._tokens = self.capacity
        self._last = time.monotonic()
        self._lock = None  # created lazily inside the running loop

    async def acquire(self) -> None:
        if self._lock is None:
            self._lock = asyncio.Lock()
        async with self._lock:
            now = time.monotonic()
            self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
            self._last = now
            if self._tokens >= 1.0:
                self._tokens -= 1.0
                return
            deficit = (1.0 - self._tokens) / self.rate
            self._tokens = 0.0
            self._last += deficit  # account for the wait we are about to do
        await asyncio.sleep(deficit)


# archive path -> (st_ino, st_size, st_mtime_ns) taken just before its
# directory was last read through ``_invalidate_if_changed``
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}
# stat + read + store as one step: two threads interleaving them could
# leave an older directory cached under the newer stamp for good
_ZIP_STAMPS_LOCK = threading.Lock()
_reread_zip_directory = zipimport.zipimporter.invalidate_caches


def _zip_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed on disk since the last read
    (or the shared ``_zip_directory_cache`` entry is gone); otherwise the
    importer is pointed back at the directory already read. A rewritten
    archive (a newly added pyFile) is still picked up; like CPython's own
    source-file caches, a same-size rewrite in place within one filesystem
    timestamp tick is not."""
    archive = self.archive
    with _ZIP_STAMPS_LOCK:
        # stat BEFORE reading: a rewrite racing the read leaves an old
        # stamp, which only costs one more re-read next time
        stamp = _zip_stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _ZIP_STAMPS.get(archive) == stamp:
            self._files = files
            return
        _reread_zip_directory(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _ZIP_STAMPS[archive] = stamp
        else:
            _ZIP_STAMPS.pop(archive, None)


def reuse_unchanged_zip_directories() -> None:
    """Install :func:`_invalidate_if_changed` as
    ``zipimport.zipimporter.invalidate_caches``, once per process.

    Only Python < 3.13 re-reads eagerly; 3.13's ``zipimport`` merely drops
    the cached directory, so there this does nothing.
    """
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
