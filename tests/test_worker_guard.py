"""The worker guard that pins Spark's own archives against
``zipimporter.invalidate_caches`` (``rio_toa_spark._pin_spark_archives``).

Structural checks only, no timing: the guard reaches the Python workers
through any engine kernel, skips the directory re-read only for
archives under ``$SPARK_HOME``, and leaves every other zip importable
after ``importlib.invalidate_caches()``.
"""

import importlib
import inspect
import sys
import zipfile
import zipimport

import pytest

import rio_toa_spark


@pytest.fixture
def stock_zipimport(monkeypatch):
    """Start from the stock ``zipimporter.invalidate_caches`` (the guard
    is already installed in this process); monkeypatch restores it."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        inspect.unwrap(zipimport.zipimporter.invalidate_caches),
    )
    return monkeypatch


def _write_zip(path, modules, mode="w"):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, mode) as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_guard_installed_in_worker_after_engine_kernel(spark, tiles_df, scenes_df):
    """A worker that has unpickled an engine kernel has the guard, and
    its per-task ``importlib.invalidate_caches()`` re-reads none of
    Spark's own archives. The probe is pickled by value, so it imports
    nothing from the engine itself."""
    import pyarrow as pa

    from rio_toa_spark.operators import toa

    assert toa.radiance_tiles(tiles_df, scenes_df, band=5).count() > 0

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        root = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        spark_archives = {
            os.path.realpath(f.archive)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        spark_archives = {a for a in spark_archives if a.startswith(root)}
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        yield pa.RecordBatch.from_pydict(
            {
                "engine": ["rio_toa_spark" in sys.modules],
                "guard": [hasattr(zipimport.zipimporter.invalidate_caches, "spark_root")],
                "spark_archives": [len(spark_archives)],
                "spark_rereads": [sum(os.path.realpath(p).startswith(root) for p in reads)],
            }
        )

    rows = (
        spark.range(16, numPartitions=16)
        .mapInArrow(probe, "engine boolean, guard boolean, spark_archives long, spark_rereads long")
        .collect()
    )
    engine_rows = [r for r in rows if r.engine]
    assert engine_rows, rows
    for r in engine_rows:
        assert r.guard, rows
        assert r.spark_archives > 0, rows
        assert r.spark_rereads == 0, rows


def test_guard_skips_only_archives_under_spark_home(stock_zipimport, tmp_path):
    """An archive under a (symlinked) ``SPARK_HOME`` is not re-read; a
    zip outside it still is, so a module added to it after the first
    import becomes importable after ``importlib.invalidate_caches()``."""
    real_home = tmp_path / "spark-4.1.2-bin"
    (real_home / "jars").mkdir(parents=True)
    home = tmp_path / "spark"
    home.symlink_to(real_home)
    stock_zipimport.setenv("SPARK_HOME", str(home))
    rio_toa_spark._pin_spark_archives()

    jar = home / "jars" / "core.jar"
    _write_zip(jar, {"guard_pinned_mod.py": "X = 1\n"})
    user = tmp_path / "files" / "user.zip"
    _write_zip(user, {"guard_user_a.py": "X = 1\n"})
    pinned = zipimport.zipimporter(str(jar))

    reads = []
    stock_read = zipimport._read_directory
    stock_zipimport.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path)
    )
    pinned.invalidate_caches()
    assert reads == []

    stock_zipimport.syspath_prepend(str(user))
    try:
        importlib.import_module("guard_user_a")
        _write_zip(user, {"guard_user_b.py": "X = 2\n"}, mode="a")
        importlib.invalidate_caches()
        assert str(user) in reads
        assert importlib.import_module("guard_user_b").X == 2
    finally:
        sys.modules.pop("guard_user_a", None)
        sys.modules.pop("guard_user_b", None)


def test_guard_noop_without_spark_home(stock_zipimport):
    stock = zipimport.zipimporter.invalidate_caches
    stock_zipimport.delenv("SPARK_HOME", raising=False)
    rio_toa_spark._pin_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_guard_installs_once(stock_zipimport, tmp_path):
    stock = zipimport.zipimporter.invalidate_caches
    stock_zipimport.setenv("SPARK_HOME", str(tmp_path))
    rio_toa_spark._pin_spark_archives()
    guarded = zipimport.zipimporter.invalidate_caches
    rio_toa_spark._pin_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__ is stock
