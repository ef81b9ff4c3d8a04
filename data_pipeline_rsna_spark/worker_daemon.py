"""Python worker daemon that ``session.get_spark`` sets as
``spark.python.daemon.module``: every Python worker forks from it.

It differs from ``pyspark.daemon`` in one thing. At the start of every
task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and each ``zipimport.zipimporter``
then re-reads its whole archive directory. Python workers import
pyspark from ``pyspark.zip``, which has about 15 importers (one per
package directory) over an archive of some 1,300 entries, so that
re-read is a fixed CPU cost on every Python task of every executor.
Here an importer re-reads only when its archive's stat stamp changed
since that importer's last re-read. An archive added or rewritten while
the worker lives (``addPyFile``) is therefore still re-read, and what a
worker can import does not change.

The daemon also imports ``pyarrow`` before it forks. Every Arrow UDF
worker (``mapInArrow``, ``mapInPandas``, pandas UDFs) imports it, and a
worker forked with it loaded shares the daemon's copy instead of
loading its own. Pickled-row workers need only numpy, which
``pyspark.daemon`` already loads; pandas is left to the workers that
use it.

Importing this module patches and pre-imports nothing; both happen
only when it runs as the daemon.
"""

from __future__ import annotations

import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the re-read, so an archive rewritten
    during the re-read differs from it and is read again next time."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp_at_reread", None):
        _reread_directory(self)
        self._stamp_at_reread = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed

    import pyarrow  # noqa: F401  (shared by the forked Arrow workers)
    from pyspark import daemon

    # stamp the importers pyspark's import just made, so the workers
    # forked from here inherit them and skip even their first re-read
    importlib.invalidate_caches()
    daemon.manager()
