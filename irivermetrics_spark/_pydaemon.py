"""Python worker daemon that imports pyspark from site-packages.

Spark starts its Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the py4j zip and the ``spark-core`` jar first on
``sys.path``. Every Python task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and each cached
``zipimporter`` re-reads its archive's directory: 0.1-0.3 s per task on a
4-vCPU VM, more than most of this engine's Arrow kernels take. Run as
``spark.python.daemon.module``, this module drops those entries and their
cached importers, then runs ``pyspark.daemon``; the forked workers import
the same pyspark release from site-packages and the per-task call costs
well under a millisecond.

Nothing here imports pyspark at module level: the strip must happen
before the first pyspark import. ``session.get_spark`` decides in the
driver whether to use this module (``site_pyspark_version``).
"""

from __future__ import annotations

import importlib.util
import os
import re
import site
import sys


def strip_spark_paths(paths: list[str], spark_home: str) -> list[str]:
    """``paths`` without the entries under ``$SPARK_HOME/python/lib`` and
    ``$SPARK_HOME/jars``. Symlinks are resolved on both sides (Spark lists
    the jar by its real path). User ``--py-files`` entries and Spark's
    per-application files directory live elsewhere and are kept."""
    home = os.path.realpath(spark_home)
    owned = tuple(os.path.join(home, d) + os.sep for d in ("python/lib", "jars"))
    return [p for p in paths if not os.path.realpath(p or ".").startswith(owned)]


def site_pyspark_version() -> str | None:
    """``__version__`` of the pyspark installed in site-packages, read
    without importing it, or None if there is none."""
    for d in site.getsitepackages():
        try:
            with open(os.path.join(d, "pyspark", "version.py")) as f:
                m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)['\"]", f.read())
        except OSError:
            continue
        if m:
            return m.group(1)
    return None


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        original = list(sys.path)
        sys.path[:] = strip_spark_paths(original, spark_home)
        # a worker interpreter other than the driver's may lack a
        # site-packages pyspark: keep Spark's own copy then
        if importlib.util.find_spec("pyspark") is None:
            sys.path[:] = original
        else:
            for p in set(original) - set(sys.path):
                sys.path_importer_cache.pop(p, None)

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
