"""The Python worker daemon the engine's sessions start
(``spark.python.daemon.module``, set by ``session.get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task. On CPython < 3.12, ``zipimporter.invalidate_caches``
re-reads the central directory of its archive eagerly, and a worker
holds one zipimporter per package path it imported from ``pyspark.zip``,
the spark-core jar and py4j's zip (16 in an Arrow kernel's worker), so
each task read 16 zip directories again: 0.18-0.25 CPU-s per task on a
4-vCPU VM, timed around the call inside ``mapInPandas`` tasks.

This module gates that re-read on the archive's ``(mtime_ns, size)``
stamp, kept on the importer: an unchanged archive keeps its directory,
and a rewritten one (new size or mtime) is invalidated as before. Then
it runs PySpark's own daemon. Where CPython only drops the cached
directory and reads it again lazily, the gate saves that later read.
"""

from __future__ import annotations

import os
import zipimport

__all__ = ["gate_zip_rereads", "main"]

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _gated_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp differs from the one of the importer's last read."""
    stamp = _stamp(self.archive)  # taken before the read: a later write re-reads
    if stamp is not None and getattr(self, "_stamp", None) == stamp:
        return
    _reread(self)
    self._stamp = stamp


def gate_zip_rereads() -> None:
    """Install the gated ``invalidate_caches`` on ``zipimporter``."""
    zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches


def main() -> None:
    gate_zip_rereads()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
