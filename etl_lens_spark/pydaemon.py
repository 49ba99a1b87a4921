"""Python worker daemon that keeps zip-archive directories across tasks.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
every Python worker is forked from here instead of from
``pyspark.daemon``. The only difference is one patch, installed before
``pyspark.daemon.manager()`` starts forking.

Why: at the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``, after it
has put the task's include files on ``sys.path``). Up to CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-parses the whole central
directory of its archive right away, and there is one importer per
package imported from an archive. The worker's path holds
``pyspark.zip`` (1,328 entries) and the ``spark-core`` jar (5,359
entries), so each task re-read both archives many times over: 16
directory reads and about 290k ``_unpack_uint16``/``_unpack_uint32``
calls in a profiled no-op task, the same for a task of any row count.
On a 4-core x86 box a one-partition no-op ``mapPartitions``
took 0.21-0.26 s with ``pyspark.daemon`` and 0.09-0.11 s from here.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the last read, so an archive that was rewritten is still
re-read and its new contents import — the meaning of invalidation is
kept. CPython 3.12 made the re-read lazy (gh-103200), so the patch is
installed only when the interpreter running the daemon — the worker's,
which can differ from the driver's — is older than 3.12.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the file its cached
# directory was read from
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _stamps.get(archive) == stamp:
        self._files = cached
        return
    _reread(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Patch ``zipimporter`` if this interpreter re-reads eagerly.

    Returns whether the patch is in place. Idempotent."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    if install():
        # read each archive once here, so every forked worker starts
        # with its directories stamped and its first task skips them too
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
