"""SparkSession factory tuned for this engine.

Local-mode defaults follow the sandbox (single JVM, N threads); on a
real cluster the same confs apply per executor. AQE is always on: it
replaces the reference's hand-tuned date-batching heuristic
(reference: src/irm_main.py:146-151) with runtime partition coalescing
and handles skew joins on dense river-corridor cells.

Python workers run under ``irivermetrics_spark._pydaemon`` (set as
``spark.python.daemon.module``). Spark puts its own ``pyspark.zip``, the
py4j zip and the ``spark-core`` jar first on every worker's path, and
each Python task's ``importlib.invalidate_caches()`` re-reads those
archives' directories: a 0.1-0.3 s floor per task on a 4-vCPU VM, which
dominated the short Arrow stages of module 2 (fill, zonal, morphology,
fold). The daemon module drops those entries and runs ``pyspark.daemon``
on the pip-installed pyspark instead. The package's parent directory goes
on ``spark.executorEnv.PYTHONPATH`` so workers import the module whatever
their working directory (the ``--py-files`` zip, under ``spark-submit``).

``get_spark`` falls back to plain ``pyspark.daemon`` (Spark's default)
when site-packages has no pyspark of the driver's version, and on a
non-local master, where the driver cannot vouch for the executors'
interpreter or file system.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

from irivermetrics_spark import _pydaemon

_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _driver_mem() -> str:
    """Local-mode driver heap: SPARK_GRAFT_DRIVER_MEM, else 8g.

    8g is the measured-fastest local default: an r8 A/B at bench sf0.1
    local[32] read the whole suite ~2-5 s SLOWER with a host-derived
    31g heap (larger G1 regions/card tables hurt the many short jobs
    far more than extra headroom helps). Very large local runs
    (sf >= 1.0 image tables) can raise it via the env var; a cluster
    deployment sizes executor memory per node instead (guide §5)."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


def _worker_conf(master: str) -> dict[str, str]:
    """Confs that run Python workers under ``_pydaemon``, or none when the
    plain ``pyspark.daemon`` must stay (see the module docstring)."""
    if not master.startswith("local") or _pydaemon.site_pyspark_version() != pyspark.__version__:
        return {}
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {"spark.python.daemon.module": _pydaemon.__name__, _PYTHONPATH: pkg_parent}


def get_spark(
    app_name: str = "irivermetrics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # match shuffle width to parallelism in local mode; a cluster would
    # size this to 2-3x total cores (or leave it to AQE coalescing)
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # batch sizing (guide §4.2): rows capped at the Spark default
        # 10000 — the old 2048 row cap guarded wide binary image rows,
        # but Spark 4's maxBytesPerBatch (64 MB, stated explicitly)
        # already bounds those by BYTES (~218 rows/batch at 300 KB
        # images), so the row cap only throttled narrow-row UDF stages
        # into 5x more batches. r8 interleaved A/B on the flagship rep:
        # 2048 -> 10000 read 2.65/2.73 -> 2.50/2.52 s.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = _worker_conf(master)
    for k, v in (extra_conf or {}).items():
        # a caller's PYTHONPATH must not hide the daemon module
        conf[k] = os.pathsep.join([v, conf[k]]) if k == _PYTHONPATH and k in conf else v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
