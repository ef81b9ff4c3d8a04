"""The package worker daemon: its zip-importer rule, and that
``get_spark`` makes every Python task run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from data_pipeline_rsna_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("m", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("m").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    # importing the module patched nothing; install the wrapper here
    assert (zipimport.zipimporter.invalidate_caches
            is not worker_daemon.invalidate_if_changed)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)

    importlib.invalidate_caches()
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files

    _write_zip(archive, {"m": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("m2").Y == 2


def test_python_tasks_run_under_package_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.record_batch(
            [
                pa.array([sys.modules["__main__"].__spec__.name]),
                pa.array([zipimport.zipimporter.invalidate_caches.__qualname__]),
            ],
            names=["main", "invalidate"],
        )

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "main string, invalidate string"
    ).first()
    assert row.main == "data_pipeline_rsna_spark.worker_daemon"
    assert row.invalidate == "invalidate_if_changed"
