"""Python worker daemon for ``spark.python.daemon.module`` (set by
:func:`nba_data_pipeline_spark.session.get_spark`).

Every task's worker set-up calls ``importlib.invalidate_caches()``, which
makes each cached ``zipimporter`` re-read its archive's directory:
``pyspark.zip`` alone costs 0.13-0.33 s per task on a 4-core host. The
zips on the worker's path do not change while the worker lives, and a zip
added later (``addPyFile``, SparkFiles) gets a fresh importer, so this
daemon turns that re-read into a no-op before forking workers.
``FileFinder`` caches are still invalidated.
"""

import zipimport

from pyspark import daemon

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
