"""Python workers run under ``irivermetrics_spark._pydaemon``: they import
pyspark from site-packages, Spark's zips and jars are off their path, and
the per-task ``importlib.invalidate_caches()`` no longer re-reads them."""

import json
import os
import types

import pyspark
import pytest
from pyspark.sql import SparkSession

from irivermetrics_spark import session
from irivermetrics_spark._pydaemon import strip_spark_paths


def test_worker_loads_pyspark_outside_spark_home(spark):
    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def _worker_report(batches):
        import importlib
        import os
        import sys
        import time

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        yield pd.DataFrame({"r": [json.dumps(dict(
            pyspark=pyspark.__file__, path=sys.path,
            spark_home=os.environ.get("SPARK_HOME", ""), invalidate_s=dt))]})

    rows = spark.range(4).repartition(2).mapInPandas(_worker_report, "r string").collect()
    assert rows
    for row in rows:
        r = json.loads(row.r)
        assert r["spark_home"], "workers see SPARK_HOME"
        home = os.path.realpath(r["spark_home"])
        assert not os.path.realpath(r["pyspark"]).startswith(home + os.sep), r["pyspark"]
        owned = (os.path.join(home, "python", "lib") + os.sep, os.path.join(home, "jars") + os.sep)
        assert not [p for p in r["path"] if os.path.realpath(p or ".").startswith(owned)]
        assert r["invalidate_s"] < 0.020, r["invalidate_s"]


def test_strip_keeps_py_files_and_spark_files_dir(tmp_path):
    real = tmp_path / "spark-4.1.2-bin"
    for d in ("python/lib", "jars"):
        (real / d).mkdir(parents=True)
    home = tmp_path / "spark"
    home.symlink_to(real)  # Spark lists the jar by its real path
    files_dir = str(tmp_path / "spark-1234" / "userFiles-5678")
    py_files_zip = os.path.join(files_dir, "irivermetrics_spark.zip")
    paths = [
        "",
        files_dir,
        py_files_zip,
        f"{home}/python/lib/pyspark.zip",
        f"{home}/python/lib/py4j-0.10.9.9-src.zip",
        f"{real}/jars/spark-core_2.13-4.1.2.jar",
        f"{home}/python",
        "/usr/lib/python3.11/site-packages",
    ]
    assert strip_spark_paths(paths, str(home)) == [
        "", files_dir, py_files_zip, f"{home}/python", "/usr/lib/python3.11/site-packages"]


def _built_conf(monkeypatch, master, extra_conf=None):
    """The confs ``get_spark`` hands the session builder, no JVM started."""
    def capture(builder):
        return types.SimpleNamespace(
            conf=dict(builder._options),
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    return session.get_spark("conf-probe", master=master, extra_conf=extra_conf).conf


def test_get_spark_sets_daemon_module_when_versions_match(monkeypatch):
    conf = _built_conf(monkeypatch, "local[2]", {"spark.executorEnv.PYTHONPATH": "/srv/libs"})
    assert conf["spark.python.daemon.module"] == "irivermetrics_spark._pydaemon"
    # a caller's PYTHONPATH is kept, and the package stays importable
    user, pkg_parent = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert user == "/srv/libs"
    assert os.path.isfile(os.path.join(pkg_parent, "irivermetrics_spark", "_pydaemon.py"))


@pytest.mark.parametrize("master, version", [
    ("local[2]", "0.0.0-other"),  # site-packages pyspark differs from the driver's
    ("spark://cluster:7077", None),  # executors' interpreter is not the driver's
])
def test_get_spark_falls_back_to_plain_daemon(monkeypatch, master, version):
    if version:
        monkeypatch.setattr(pyspark, "__version__", version)
    conf = _built_conf(monkeypatch, master)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
