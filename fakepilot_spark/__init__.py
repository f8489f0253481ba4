"""fakepilot_spark — a from-scratch PySpark-native web-extraction + crawl engine.

Capabilities mirror the `phoenixsite/fakepilot` reference (HTML → company /
review extraction, byte-identical per URL) re-architected for Spark: Arrow
pandas UDF extraction over Common-Crawl-style `pages` tables, a salted
host-prefix-partitioned URL frontier with bloom/cuckoo URL-seen sketches,
broadcast robots/politeness dimensions, and resumable epoch checkpoints.
"""

import os as _os
import zipimport as _zipimport

__version__ = "0.1.0"


def _install_zip_directory_cache() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task, and CPython 3.11's ``zipimporter.invalidate_caches`` re-reads the
    whole central directory of its archive each time — a worker holds ~16
    importers, mostly over ``pyspark.zip`` (1,300+ entries), which costs
    0.1–0.25 s of CPU per task, more than extracting a page batch. Every
    worker that unpickles one of our UDFs imports this package, so from its
    second task on each archive is read once to stamp it and, while the
    ``(st_mtime_ns, st_size, st_ino)`` stamp holds, never again: its
    importers keep the directory in ``zipimport._zip_directory_cache``.
    Any other case — the stamp moved, the stat failed, no cache entry —
    runs the original method, so imports see exactly what they would
    without the wrapper.
    """
    cls = _zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "__module__", None) == __name__:
        return  # already installed (e.g. the module was reloaded)
    stamps: dict = {}  # archive path -> stamp of the directory last read

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = _os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = _zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing the read leaves an older
        # stamp behind, so the next call re-reads rather than trusting it
        original(self)
        if stamp is not None and archive in _zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    cls.invalidate_caches = invalidate_caches


_install_zip_directory_cache()
