"""The engine's PySpark worker daemon: `pyspark.daemon` with a zipimporter
whose `invalidate_caches` re-reads an archive only when it changed.

PySpark calls `importlib.invalidate_caches()` at the start of every Python
task (`worker_util.setup_spark_files`). On CPython 3.11 each zipimporter then
re-reads its whole archive directory: a worker holds several importers on
pyspark.zip, the py4j zip and the spark-core jar, ~0.1 s per task. Here an
unchanged archive costs one `stat`; a changed one (or one that cannot be
stat'ed) is re-read as before. (mtime, size) is the check CPython's own
.pyc cache relies on.

`session.get_spark` runs it as `spark.python.daemon.module`
(`session.WORKER_DAEMON`), and forked workers inherit the patch. Workers must
import `gdalcubes_spark` anyway, since the engine's UDFs pickle its functions
by reference. The daemon needs it earlier, when the daemon starts: before a
task puts the `--py-files` on sys.path, so the package must be installed or
on the workers' PYTHONPATH (tools/submit_flagship.py shows how). Importing
this module changes nothing.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(importer) -> None:
    """zipimporter.invalidate_caches, skipped while the archive's
    (st_mtime_ns, st_size) equals the stamp taken at its last re-read."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_reread_stamp", None):
        _reread(importer)
        importer._reread_stamp = stamp


if __name__ == "__main__":
    # `-m` runs this file as __main__: install the function of the importable
    # module, so that workers see it under this module's package name
    from gdalcubes_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    from pyspark.daemon import manager

    manager()
