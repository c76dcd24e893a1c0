"""North-rule launch shape: the --py-files zip built by ``tools/package.py``
must run a pipeline job under a REAL ``spark-submit`` (fresh JVM, package
imported from the zip, not from the repo checkout) — once with a plain
session and once through ``session.get_spark``, whose Python worker
daemon module must then load from the same zip."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

PLAIN_SESSION = """
from pyspark.sql import SparkSession

spark = (SparkSession.builder.appName("submit-smoke")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
"""

GET_SPARK_SESSION = """
from irivermetrics_spark.session import get_spark

spark = get_spark("submit-smoke", master="local[2]", shuffle_partitions=4)
"""

JOB = """
import json, sys
{session}
# the package must resolve from --py-files, not a checkout
from irivermetrics_spark import synth
from irivermetrics_spark.plans import pipeline

fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=31)
grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
res = pipeline.run(spark, pipeline.images_df(spark, fx.images), fx.reaches, grid)


def worker_modules(batches):
    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    # the daemon the worker was forked from runs as __main__
    yield pd.DataFrame({{"daemon": [sys.modules["__main__"].__file__],
                        "pyspark": [pyspark.__file__]}})


w = spark.range(1).mapInPandas(worker_modules, "daemon string, pyspark string").first()
out = dict(worker_daemon=w.daemon, worker_pyspark=w.pyspark,
           metrics_rows=res["metrics"].count(),
           kept=res["kept"].count(),
           pkg=__import__("irivermetrics_spark").__file__,
           daemon=spark.sparkContext.getConf().get("spark.python.daemon.module", ""))
with open(sys.argv[1], "w") as f:
    json.dump(out, f)
spark.stop()
"""


@pytest.fixture(scope="module")
def zip_path(tmp_path_factory):
    import package

    return package.build(str(tmp_path_factory.mktemp("dist") / "irivermetrics_spark.zip"))


def _submit(zip_path, base, session):
    job = base / "job.py"
    result = base / "result.json"
    job.write_text(JOB.format(session=session))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    # cwd OUTSIDE the repo so the import can only come from the zip
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", zip_path, str(job), str(result)],
        cwd=base, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(result.read_text())
    assert out["metrics_rows"] == 3 * 2  # n_dates x n_sections (all kept)
    assert out["kept"] == 3
    assert "irivermetrics_spark.zip" in out["pkg"]  # imported FROM the zip
    return out


def test_spark_submit_py_files_runs_pipeline(zip_path, tmp_path):
    out = _submit(zip_path, tmp_path, PLAIN_SESSION)
    assert out["daemon"] == ""
    assert out["worker_daemon"].endswith("pyspark/daemon.py")


def test_spark_submit_get_spark_worker_daemon_from_zip(zip_path, tmp_path):
    out = _submit(zip_path, tmp_path, GET_SPARK_SESSION)
    assert out["daemon"] == "irivermetrics_spark._pydaemon"
    assert out["worker_daemon"] == os.path.join(zip_path, "irivermetrics_spark", "_pydaemon.py")
    assert "pyspark.zip" not in out["worker_pyspark"]
