"""Python worker entry of tokseq's local Spark sessions (``get_spark``
sets ``spark.python.worker.module`` to it when given ``cores``).

Before every task, ``pyspark.worker.main`` calls
``importlib.invalidate_caches()``, and each ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its archive's whole
directory: pyspark.zip, the py4j zip and the spark-core jar, thousands
of entries per task. ``main`` drops those importers first. The path
hooks re-create one on the next import from an archive, and modules
already imported keep their loaders.

``pyspark/daemon.py`` loads a worker module only if its name starts
with ``pyspark``, and every worker imports it from the same path as
``tokseq``."""

import sys
import zipimport

from pyspark import worker


def main(infile, outfile):
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    worker.main(infile, outfile)
