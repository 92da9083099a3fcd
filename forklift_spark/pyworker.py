"""The Python worker daemon of every `get_spark` session: pyspark's own
daemon (`pyspark.daemon.manager`), with one per-task interpreter cost
taken out.

Every Python-worker task calls `importlib.invalidate_caches()` (pyspark's
`worker_util.setup_spark_files`). Before CPython 3.12, that makes every
`zipimporter` on the worker's import path re-read its archive's whole
directory, and a worker that imports pyspark from `pyspark.zip` holds one
zipimporter per imported pyspark package: 0.24-0.30 s of worker CPU
per task on a 4-vCPU VM, paid by every `mapInArrow` writer task. Here
an archive's directory is re-read only when the archive changed on disk
(mtime or size), so a new or replaced zip is still seen; the cached
directory is the one an unchanged archive would be re-read into.
CPython 3.12 made that re-read lazy (at the archive's next import lookup),
and there the daemon leaves zipimport alone.

`session.get_spark` sets `spark.python.daemon.module` to this module and
puts the directory holding `forklift_spark` (a `--py-files` zip, when
the package was imported from one) on `spark.executorEnv.PYTHONPATH`.
Executors must be able to import `forklift_spark` when the daemon starts;
the merge writer's closures import `forklift_spark.lakette.bloom` on the
executors anyway, so a cluster ships the package with `--py-files`.
Importing this module patches nothing; the daemon's entry point does."""

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


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        _patch_zipimport()
    daemon.manager()
