"""Stop python workers re-reading zip archives at the start of every task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11
``zipimporter.invalidate_caches`` re-reads the archive's central directory
at once, and it does so for every zipimporter instance. A worker that
imports pyspark from ``pyspark.zip`` (1,328 entries) holds 16 of them, so
each task re-read that directory 16 times: ~0.2 s of CPU before the task
reads a row. Profiled with cProfile over 192 tasks (CPython 3.11.7, 4 vCPU
x86-64), the re-reads took 130.9 of 133.6 s. CPython 3.12 defers the
re-read to the next import (gh-103200).

:func:`install` wraps the method once: an importer re-reads its archive
only when the file's ``(st_ino, st_size, st_mtime_ns)`` differs from the
one recorded at the archive's last read, and otherwise takes the directory
of that read. An unchanged archive yields the same directory, so only the
wasted work goes. Workers import ``xorf_spark`` when they unpickle a
library UDF, so a reused worker runs its later tasks without the cost.

Delete this module once the Python floor is >= 3.12.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent; no-op on 3.12+)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or \
            cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    # archive path -> (stat signature, directory) of its last read
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        # stat BEFORE reading: a change racing the read leaves an old
        # signature on the new directory, which costs one more read later
        sig = _signature(self.archive)
        last = last_read.get(self.archive)
        if sig is not None and last is not None and last[0] == sig:
            self._files = last[1]
            return
        reread(self)
        if sig is not None:
            last_read[self.archive] = (sig, self._files)

    cls.invalidate_caches = invalidate_caches
