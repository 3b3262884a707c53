"""Reuse an unchanged zip archive's directory on ``invalidate_caches()``.

Why this exists: the PySpark worker calls ``importlib.invalidate_caches()``
at the start of every task, and before CPython 3.13 each zipimporter on
``sys.path`` then re-reads its archive's whole central directory. A worker
holds about 14 of them (most over ``pyspark.zip``), which costs 120-160 ms
of CPU per task. The wrapper records each archive's ``(st_ino,
st_mtime_ns, st_size)`` when it reads the directory and reuses that read
while the stat is unchanged; a changed or missing archive takes the stock
path. Installing re-reads each archive already on the path once, so its
stat is known from the next task on. CPython 3.13 reads directories lazily
(``_get_files``), so there the stock method is left alone.
"""
import os
import sys
import zipimport

_read = {}  # archive path -> (stat key, directory dict)


def install() -> None:
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if hasattr(cls, "_get_files") or hasattr(stock, "_oroch_stock"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)  # before the read: never stale
        except OSError:
            _read.pop(self.archive, None)
            return stock(self)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = _read.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        stock(self)
        if self._files:  # a failed read leaves {}: not worth keeping
            _read[self.archive] = (key, self._files)

    invalidate_caches._oroch_stock = stock
    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp.invalidate_caches()
