"""The engine's PySpark worker daemon: an unchanged zip archive is not re-read
on every task's importlib.invalidate_caches(), a changed one still is."""

import importlib.util
import zipfile
import zipimport

from gdalcubes_spark import worker_daemon


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    z = tmp_path / "probe.zip"
    _write_zip(z, {"gdc_daemon_probe_a.py": "A = 1\n"})
    importer = zipimport.zipimporter(str(z))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))

    worker_daemon.invalidate_caches(importer)  # no stamp yet: re-read
    assert len(reads) == 1
    worker_daemon.invalidate_caches(importer)  # unchanged: one stat, no re-read
    assert len(reads) == 1

    _write_zip(z, {"gdc_daemon_probe_a.py": "A = 1\n", "gdc_daemon_probe_b.py": "B = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2
    spec = importer.find_spec("gdc_daemon_probe_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2


def test_import_installs_nothing():
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches


def test_workers_run_the_engine_daemon(spark):
    def installed(_):
        import zipimport
        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(installed).collect()
    assert got == ["gdalcubes_spark.worker_daemon"]
