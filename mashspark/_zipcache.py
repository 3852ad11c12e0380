"""Stat-checked ``zipimporter.invalidate_caches`` for Spark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10/3.11 that makes every ``zipimporter`` (one per
package imported from an archive: ~16 for ``pyspark.zip``) re-parse its
archive's whole central directory, which costs a small task more CPU than
its UDF; CPython 3.12 made the re-read lazy. After ``install()`` an
importer re-reads only when the archive's ``(st_mtime_ns, st_size)``
differs from the stamp it took at its last read.
"""
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
    except OSError:  # vanished archive: the stock method empties the cache
        self._mashspark_stamp = None
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_mashspark_stamp", None) != stamp:
        _stock_invalidate(self)
        self._mashspark_stamp = stamp


def install():
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
