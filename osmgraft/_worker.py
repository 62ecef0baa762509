"""PySpark worker daemon whose cached zipimporters keep their directory.

Spark forks every Python worker from one daemon process, the module
named by `spark.python.daemon.module` (`session.get_spark` sets it to
this one when the workers can import it). Before each task,
`pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. Through `PathFinder` that reaches
every cached `zipimport.zipimporter`, and on Python 3.11 each of them
then re-reads its archive's central directory: the ~16 importers for
the packages in pyspark.zip re-read its 1,328 entries, ~0.2 CPU-s per
task. Patching only `worker_util.importlib` does not help, since the
call goes through `sys.meta_path`.

The zips on a worker's path do not change under it, so here an
importer that has read its directory keeps it. Directory finders are
still invalidated, and a new path (an `addPyFile` zip, say) still gets
a fresh zipimporter that reads its own directory. Where this Python's
zipimporter lacks the internals patched, the daemon runs unpatched,
exactly as pyspark's own.

    python -m osmgraft._worker    # run by Spark, never by hand
"""

from __future__ import annotations

import zipimport


def supported() -> bool:
    """True when this Python's zipimporter has what `install` patches."""
    return callable(getattr(zipimport.zipimporter, "invalidate_caches", None))


def install() -> bool:
    """Make zipimporters that already hold a directory keep it on
    `invalidate_caches`. Returns whether the patch is in place."""
    if not supported():
        return False
    stock = zipimport.zipimporter.invalidate_caches

    def _keep_directory(self):
        # an importer whose directory failed to read (or a Python that
        # no longer keeps it in `_files`) re-reads as before
        if not getattr(self, "_files", None):
            stock(self)

    zipimport.zipimporter.invalidate_caches = _keep_directory
    return True


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
