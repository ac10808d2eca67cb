"""Session layer: the Python worker daemon's change-keyed zipimport
invalidation, and job labels of lazily built pipeline stages."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from rust_gd_spark import _pydaemon


def test_workers_run_the_patched_daemon(spark):
    @pandas_udf("boolean")
    def patched(s: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: hasattr(fn, "__wrapped__"))

    got = {r[0] for r in spark.range(8).select(patched("id")).collect()}
    assert got == {sys.version_info < (3, 13)}


@pytest.fixture
def keyed(monkeypatch, tmp_path):
    """The patch installed in this process (undone afterwards), and a
    zip archive on ``sys.path`` holding module ``m1``."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _pydaemon.patch_zipimport()
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"m1": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for mod in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    yield archive
    sys.path_importer_cache.pop(str(archive), None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidation_rereads_an_archive_changed_in_place(keyed):
    import m1

    assert m1.X == 1
    ino = keyed.stat().st_ino
    _write_zip(keyed, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    assert keyed.stat().st_ino == ino
    importlib.invalidate_caches()
    import m2

    assert m2.Y == 2


def test_invalidation_skips_an_unchanged_archive(keyed, monkeypatch):
    import m1  # noqa: F401

    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == str(keyed):
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    first = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == first
    if sys.version_info < (3, 13):
        # an archive that can no longer be stat'ed is read again
        keyed.unlink()
        importlib.invalidate_caches()
        assert len(reads) == first + 1


def test_lazy_stage_build_runs_under_its_label(spark):
    from rust_gd_spark.pipeline import _StageRunner

    sc = spark.sparkContext
    seen = []

    def build():
        seen.append(sc.getLocalProperty("spark.job.description"))
        return spark.range(3)

    runner = _StageRunner(spark, None, "run", collect_stats=False)
    before = sc.getLocalProperty("spark.job.description")
    out = runner.run("cands", build, lazy=True)
    assert seen == ["stage:cands"]
    assert out.count() == 3
    assert sc.getLocalProperty("spark.job.description") == before
