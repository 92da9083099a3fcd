"""PySpark's Python worker daemon (`pyspark.daemon`) for the test session,
with one per-task interpreter cost taken out.

Every Python-worker task calls `importlib.invalidate_caches()` (pyspark's
`worker_util.setup_spark_files`). Before CPython 3.12, that makes every
`zipimporter` on the worker's import path re-read its archive's whole
directory, and a worker that imports pyspark from `pyspark.zip` holds one
zipimporter per imported pyspark package: 0.24-0.30 s of worker CPU
per task on a 4-vCPU VM, paid by every `mapInArrow` writer task. Here
an archive's directory is re-read only when the archive changed on disk
(mtime or size), so a new or replaced zip is still seen; the cached
directory is the one an unchanged archive would be re-read into.

tests/conftest.py runs the session's workers under this module
(`spark.python.daemon.module`)."""

import os
import sys
import zipimport

from pyspark import daemon


def _patch_zipimport() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    read_as: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_as.get(self.archive) == sig:
            self._files = files
            return None
        reread(self)
        read_as[self.archive] = sig
        return None

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _patch_zipimport()

if __name__ == "__main__":
    daemon.manager()
