"""The goka_spark Python worker daemon and worker importability.

``goka_spark.pyworker`` keeps zip archives' directories across the
``importlib.invalidate_caches()`` that PySpark runs before every task,
re-reading an archive only when it changed; ``get_session`` makes it
the daemon and puts the package root on the workers' ``PYTHONPATH``.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from goka_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHES = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def patched(monkeypatch):
    """Install the daemon's patch in this process; monkeypatch restores
    CPython's ``invalidate_caches`` and the stamp table afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pyworker, "_stamps", {})
    pyworker.install()


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.mark.skipif(not PATCHES, reason="CPython 3.13+ needs no patch")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_zip_a": 1})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pw_zip_a", raising=False)
    assert importlib.import_module("pw_zip_a").VALUE == 1
    importlib.invalidate_caches()  # first call after the importer exists stamps it

    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert zipimport.zipimporter.invalidate_caches.__module__ == "goka_spark.pyworker"


@pytest.mark.skipif(not PATCHES, reason="CPython 3.13+ needs no patch")
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_zip_b": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("pw_zip_b", "pw_zip_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("pw_zip_b")
    importlib.invalidate_caches()

    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, {"pw_zip_b": 1, "pw_zip_c": 2})
    importlib.invalidate_caches()
    assert reads  # the stamp changed, so the directory was read again
    assert importlib.import_module("pw_zip_c").VALUE == 2


@pytest.mark.skipif(not PATCHES, reason="CPython 3.13+ needs no patch")
def test_deleted_archive_behaves_as_cpython(tmp_path, monkeypatch, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_zip_d": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("pw_zip_d", "pw_zip_e"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("pw_zip_d")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]

    os.remove(archive)
    importlib.invalidate_caches()
    # CPython: the read fails, the cache entry goes, the importer is empty
    assert archive not in zipimport._zip_directory_cache
    assert importer._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pw_zip_e")
    # the archive comes back: it is read again
    _write_zip(archive, {"pw_zip_e": 5})
    importlib.invalidate_caches()
    assert importlib.import_module("pw_zip_e").VALUE == 5


def test_install_is_a_noop_on_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_session_workers_run_the_daemon(spark):
    """Inside a worker: the patch is installed, and a per-task
    ``invalidate_caches`` reads no zip directory (pyspark.zip is on the
    workers' path)."""

    def probe(it):
        import importlib
        import os
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in it:
            pass
        yield pd.DataFrame({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)], "zips": [zips], "pid": [os.getpid()]})

    rows = (spark.range(0, 8, numPartitions=4)
            .mapInPandas(probe, "module string, reads long, zips long, pid long")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0
        if PATCHES:
            assert r.module == "goka_spark.pyworker"
            assert r.reads == 0


def test_workers_import_goka_spark_from_any_cwd(tmp_path):
    """A session started outside the checkout, with no PYTHONPATH, runs
    UDFs that call into goka_spark by module."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from goka_spark.functions import bpe
        from goka_spark.session import get_session

        spark = get_session("cwd_check", **{{"spark.ui.showConsoleProgress": "false"}})
        spark.sparkContext.setLogLevel("ERROR")

        def merged(it):
            for pdf in it:
                yield pd.DataFrame({{"w": [" ".join(bpe.merge_word(list(w), "a", "b"))
                                          for w in pdf["w"]]}})

        @F.pandas_udf("long")
        def n_syms(s: pd.Series) -> pd.Series:
            return s.map(lambda w: len(bpe.merge_word(list(w), "a", "b")))

        df = spark.createDataFrame([("abc",), ("xab",)], "w string")
        got = sorted(r.w for r in df.mapInPandas(merged, "w string").collect())
        assert got == ["ab c", "x ab"], got
        assert sorted(r.n for r in df.select(n_syms("w").alias("n")).collect()) == [2, 2]
        spark.stop()
        print("OK")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0 and res.stdout.strip().endswith("OK"), res.stderr[-3000:]
