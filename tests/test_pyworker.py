"""The Python worker daemon (forklift_spark/pyworker.py): its zipimport
patch re-reads an archive's directory only when the archive changed, every
`get_spark` session's workers run it, a caller's executor PYTHONPATH keeps
working beside it, and the `--py-files` zip carries it."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from forklift_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

only_before_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="the daemon patches zipimport only before CPython 3.12",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@only_before_312
def test_zipimport_patch_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    reads = []
    original = zipimport.zipimporter.invalidate_caches

    def counted(self):
        if self.archive == archive:
            reads.append(self.archive)
        return original(self)

    # the patch wraps `counted`; monkeypatch restores the original method
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counted)
    pyworker._patch_zipimport()
    _write_zip(archive, {"fk_zip_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("fk_zip_a", "fk_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    assert importlib.import_module("fk_zip_a").A == 1

    importlib.invalidate_caches()  # first sight of the archive: read it
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged archive: not re-read

    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 2  # new mtime: re-read

    _write_zip(archive, {"fk_zip_a": "A = 1\n", "fk_zip_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 3  # rewritten, new size: re-read
    assert importlib.import_module("fk_zip_b").B == 2


@only_before_312
def test_get_spark_workers_run_the_package_daemon(spark):
    """The session fixture is a plain get_spark(): no daemon conf."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "daemon": [sys.modules["__main__"].__spec__.name],
            "invalidate": [zipimport.zipimporter.invalidate_caches.__qualname__],
        })

    row = spark.range(1).mapInArrow(
        probe, "daemon string, invalidate string"
    ).collect()[0]
    assert row.daemon == "forklift_spark.pyworker"
    assert row.invalidate.startswith("_patch_zipimport.")


def test_caller_executor_pythonpath_is_kept(tmp_path):
    """A caller's spark.executorEnv.PYTHONPATH is joined with the package
    directory: the workers import the caller's module and still run the
    package daemon. The driver runs outside the checkout and without
    PYTHONPATH, so only the executor env can put forklift_spark there."""
    lib = tmp_path / "callerlib"
    lib.mkdir()
    (lib / "fk_caller_mod.py").write_text("VALUE = 'caller'\n")
    script = textwrap.dedent("""
        import sys
        sys.path.insert(0, sys.argv[1])
        from forklift_spark.session import get_spark

        def probe(batches):
            import sys
            import fk_caller_mod
            import pyarrow as pa
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict({
                "v": [fk_caller_mod.VALUE],
                "daemon": [sys.modules["__main__"].__spec__.name],
            })

        spark = get_spark(
            cores=1, shuffle_partitions=1, driver_memory="512m",
            extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2]},
        )
        try:
            row = spark.range(1).mapInArrow(probe, "v string, daemon string").collect()[0]
            print("PROBE", row.v, row.daemon)
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["FK_NO_SESSION_WARM"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script, REPO, str(lib)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "PROBE caller forklift_spark.pyworker" in out.stdout, out.stdout


def test_pyfiles_zip_carries_the_daemon(tmp_path):
    """spark-submit --py-files ships make_pyfiles_zip()'s zip; with only
    that zip on the path, the daemon module imports."""
    from scripts.bench_scaling import make_pyfiles_zip

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = make_pyfiles_zip()
    out = subprocess.run(
        [sys.executable, "-c",
         "import forklift_spark.pyworker as m; print(m.__file__)"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "forklift_spark.zip" in out.stdout
