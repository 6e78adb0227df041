"""Python-worker daemon for local masters (``spark.python.daemon.module``).

Spark starts it as ``python -m gh_crawler_spark._pydaemon pyspark.worker``
with ``pyspark.zip``, the py4j zip and the spark-core jar first on
``PYTHONPATH``. Every worker task calls ``importlib.invalidate_caches()``
(pyspark/worker_util.py), which makes each cached zip importer re-read its
whole archive directory, and every forked worker imports pandas and pyarrow
again. Before it runs the stock ``pyspark.daemon.manager()``, this launcher:

1. drops the archive entries from ``sys.path`` (and their importers from
   ``sys.path_importer_cache``) when the directories left on the path hold
   every package the archives do, pyspark at the archive's own version, so
   workers import pyspark the way the driver does; otherwise it keeps them;
2. imports numpy, pandas, pyarrow, the worker, the Arrow serializers and
   the engine's UDF modules once, so each forked worker starts with them
   loaded and shares their pages.

Nothing may import pyspark before step 1, so this module imports it only in
``main``. The daemon forks after ``PRELOAD``, and a child keeps only the
forking thread, so those modules must start no threads at import. The two
library pools that do start are fork-aware: numpy's OpenBLAS pool is
rebuilt in the child by its own ``pthread_atfork`` handler, and pyarrow's
jemalloc background purge thread is optional (allocation paths purge).
"""

from __future__ import annotations

import gc
import importlib
import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

PRELOAD = (
    "numpy", "pandas", "pyarrow", "pyspark.worker", "pyspark.sql.pandas.serializers",
    "gh_crawler_spark.functions.text", "gh_crawler_spark.operators.dedup",
    "gh_crawler_spark.operators.politeness", "gh_crawler_spark.operators.multimodal",
)
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def without_archives(path: list[str]) -> list[str]:
    """``path`` minus its archive entries when its directories can stand in
    for them (see the module docstring), else ``path`` unchanged."""
    archives = [p for p in path if os.path.isfile(p) and zipfile.is_zipfile(p)]
    dirs = [p for p in path if p not in archives]
    for archive in archives:
        with zipfile.ZipFile(archive) as z:
            tops = {n.split("/")[0].removesuffix(".py") for n in z.namelist() if n.endswith(".py")}
            for top in tops:
                spec = PathFinder.find_spec(top, dirs)
                if spec is None or spec.origin is None:
                    return path
                if top == "pyspark":
                    with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
                        dir_version = _VERSION.search(f.read())
                    zip_version = _VERSION.search(z.read("pyspark/version.py").decode())
                    if not (dir_version and zip_version) or dir_version[1] != zip_version[1]:
                        return path
    return dirs


def main() -> None:
    sys.path[:] = without_archives(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]
    for name in PRELOAD:
        importlib.import_module(name)
    # a worker runs gc.collect() after every task; frozen objects are never
    # scanned, so their pages stay shared with the daemon
    gc.freeze()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
