"""Python worker daemon of every :func:`sagan_spark.session.build_spark`
session: PySpark's own daemon, whose forked workers keep the directory
of each zip archive on their ``sys.path`` instead of re-reading it
before every task.

A PySpark worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``).  On CPython up to 3.12,
``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive (CPython 3.11 ``Lib/zipimport.py:329-336``), and it does
so once for every cached importer: one per package directory imported
from ``pyspark.zip``, each re-reading all 1,328 entries.  That costs
0.2-0.3 s before every Python task's function runs, against a few
milliseconds of work for the small partitions of the match, replay and
walk stages.  CPython 3.13 made the re-read lazy
(``Lib/zipimport.py:276-278``).

Keeping the directory changes nothing a task can observe: no archive on
a worker's ``sys.path`` changes in place during the worker's life.
``pyspark.zip`` and py4j's zip ship with the install, and every
``--py-files`` archive is fetched once under its own name.  The path
finders' invalidation, which newly added ``.py`` files need, still
runs.

Spark starts it as ``python -m sagan_spark.pydaemon``
(``spark.python.daemon.module``); every worker it forks inherits the
patched class.
"""

from __future__ import annotations

import zipimport

from pyspark.daemon import manager


def _keep_directory(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the archive's
    directory as read when the importer was made."""


zipimport.zipimporter.invalidate_caches = _keep_directory

if __name__ == "__main__":
    manager()
