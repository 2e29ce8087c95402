"""Allocator tuning for page-fault-expensive hosts.

On this sandbox (and many virtualized/overcommitted hosts) faulting-in fresh
anonymous pages runs ~100x slower than re-writing warm ones. NumPy frees large
temporaries straight back to the OS (glibc serves >128KB allocations via
mmap/munmap), so *every* large vectorized op pays first-touch again. Raising
glibc's mmap/trim thresholds keeps big buffers inside the heap, where free +
re-malloc reuses warm pages.

Call :func:`tune_allocator` once per process (imported by ``pq_engine.kernels``;
the Spark engine also sets ``MALLOC_MMAP_THRESHOLD_`` etc. via ``executorEnv``
so Python workers start tuned). Set ``PQ_ENGINE_NO_MALLOC_TUNE=1`` to opt out
of the malloc settings; the zipimport guard below stays on, since it changes no
allocation and only skips a re-parse.

The Python workers' environment also sets ``ARROW_DEFAULT_MEMORY_POOL=system``
(``spark/session.get_spark``), so pyarrow's buffers in a worker — the encode
task's source read above all — come from this tuned glibc heap instead of
jemalloc. The driver process keeps jemalloc. See ``spark/session.py`` for why
that pool and the single-threaded source read stay together.
"""

from __future__ import annotations

import ctypes
import os
import sys

_M_TRIM_THRESHOLD = -1
_M_TOP_PAD = -2
_M_MMAP_THRESHOLD = -3

_done = False

# env vars equivalent to the mallopt calls — for processes we don't control
# from the inside (Spark python workers pick these up at exec time)
ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_TOP_PAD_": str(64 << 20),
}


def _patch_zipimport_invalidate() -> None:
    """Backport CPython 3.12's zipimporter.invalidate_caches mtime guard
    (bpo/gh-87319 behavior) onto 3.11.

    PySpark calls ``importlib.invalidate_caches()`` at the start of EVERY
    task (worker_util.setup_spark_files), and 3.11's zipimporter re-parses
    the whole ZIP central directory unconditionally — ~130 ms/task against
    pyspark.zip on this host, which dwarfs small tasks. 3.12 skips the
    re-read while the archive's (mtime, size) is unchanged; this installs
    exactly that check, so a genuinely updated archive (addPyFile of a new
    zip build) is still picked up."""
    import zipimport

    zi = zipimport.zipimporter
    if getattr(zi, "_pq_mtime_guard", False):
        return
    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_pq_zip_key", None) == key:
            return None
        self._pq_zip_key = key
        return orig(self)

    zi.invalidate_caches = invalidate_caches
    zi._pq_mtime_guard = True


def tune_allocator(warm_mb: int = 0) -> bool:
    """Raise glibc malloc thresholds; optionally pre-fault ``warm_mb`` MiB of
    heap so the first real batch doesn't pay first-touch. Returns True if
    applied. On Python < 3.12 it also installs the zipimport guard, with or
    without ``PQ_ENGINE_NO_MALLOC_TUNE``."""
    global _done
    if _done:
        return False
    _done = True
    if sys.version_info < (3, 12):  # 3.12+ has the guard built in
        try:
            _patch_zipimport_invalidate()
        except Exception:  # stdlib drift — never let tuning break a worker
            pass
    if os.environ.get("PQ_ENGINE_NO_MALLOC_TUNE"):
        return False
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TOP_PAD, 64 << 20)
    except OSError:  # non-glibc platform — harmless
        return False
    if warm_mb:
        import numpy as np

        block = np.ones(warm_mb << 20, dtype=np.uint8)  # first-touch once
        del block
    return True
