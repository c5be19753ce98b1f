"""Python-worker hook that every engine UDF body installs first.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 and 3.12 that makes each ``zipimport.zipimporter``
in ``sys.path_importer_cache`` re-read its whole archive directory: ~0.27 s
of CPU per task, whatever its size, mostly ``pyspark.zip``. After
``install()`` an importer re-reads only when its archive's (mtime, size)
stamp changed since it last read it, so a reused worker pays once, not per
task. Import semantics hold: a rewritten or new archive has a new stamp and
is re-read as before, and an archive that cannot be stat'ed always takes
the original path. Idempotent; only UDF bodies call it, never the driver."""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


def install() -> None:
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    for imp in list(sys.path_importer_cache.values()):  # this task re-read them
        if isinstance(imp, zipimport.zipimporter):
            imp._archive_stamp = _stamp(imp.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
