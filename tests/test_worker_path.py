"""Python worker import path (session.python_worker_confs and
snapflow_spark.worker_daemon): workers run the driver's installed
pyspark with none of Spark's zip importers, keep the zips a job ships,
find the engine whatever the launch directory, and fall back to Spark's
default path when the installed pyspark is not the version Spark ships."""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pyspark

from snapflow_spark.session import ENGINE_ROOT, python_worker_confs, spark_pyspark_version
from snapflow_spark.worker_daemon import drop_spark_entries

DAEMON = "spark.python.daemon.module"
SITE = str(Path(pyspark.__file__).resolve().parent.parent)


def test_version_mismatch_keeps_sparks_default_daemon():
    assert python_worker_confs("4.1.2", "4.1.2") == {
        "spark.executorEnv.PYTHONPATH": ENGINE_ROOT,
        DAEMON: "snapflow_spark.worker_daemon",
    }
    for spark_side in ("4.1.1", "4.1.2.dev0", None):
        assert python_worker_confs("4.1.2", spark_side) == {
            "spark.executorEnv.PYTHONPATH": ENGINE_ROOT
        }


def test_spark_version_from_zip_else_jar(tmp_path):
    lib = tmp_path / "zip" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", "__version__: str = '4.0.9'\n")
    (tmp_path / "zip" / "jars").mkdir()
    (tmp_path / "zip" / "jars" / "spark-core_2.13-4.1.2.jar").touch()
    assert spark_pyspark_version(str(tmp_path / "zip")) == "4.0.9"
    (tmp_path / "jar" / "jars").mkdir(parents=True)
    (tmp_path / "jar" / "jars" / "spark-core_2.13-4.1.2.jar").touch()
    assert spark_pyspark_version(str(tmp_path / "jar")) == "4.1.2"
    assert spark_pyspark_version(str(tmp_path / "empty")) is None


def test_drop_spark_entries_keeps_user_paths():
    spark_entries = [
        "/spark/python/lib/pyspark.zip",
        "/spark/python/lib/py4j-0.10.9.9-src.zip",
        "/spark/jars/spark-core_2.13-4.1.2.jar",
    ]
    user = ["/work/files/deps.zip", "/work/files/py4j_helpers.zip", SITE]
    path = ["", *spark_entries, *user]
    cache = {p: object() for p in path} | {spark_entries[0] + "/pyspark/sql": object()}
    drop_spark_entries(path, cache)
    assert path == ["", *user]
    assert sorted(cache) == sorted(["", *user])
    # no pyspark importable without Spark's entries: keep the path whole
    path = [*spark_entries, "/work/files/deps.zip"]
    drop_spark_entries(path, cache)
    assert path == [*spark_entries, "/work/files/deps.zip"]


def test_worker_imports_installed_pyspark_and_shipped_zips(spark, tmp_path):
    shipped = tmp_path / "worker_path_shipped.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("worker_path_shipped/__init__.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(shipped))

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark
        from pyspark import SparkFiles

        import worker_path_shipped

        for _ in batches:
            pass
        root = SparkFiles.getRootDirectory()
        foreign = sorted(
            {
                imp.archive
                for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
                and not imp.archive.startswith(root)
            }
        )
        yield pd.DataFrame(
            {
                "pyspark": [pyspark.__file__],
                "foreign": ["\n".join(foreign)],
                "shipped": [worker_path_shipped.VALUE],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "pyspark string, foreign string, shipped int")
        .collect()[0]
    )
    assert row.pyspark == pyspark.__file__
    assert row.foreign == ""  # no zipimporter but the ones the job shipped
    assert row.shipped == 42


def test_pandas_udf_runs_from_any_launch_directory(tmp_path):
    script = tmp_path / "outside.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ENGINE_ROOT!r})
            from snapflow_spark.functions.text import token_count_udf
            from snapflow_spark.session import build_session

            spark = build_session("launch-dir", master="local[1]")
            df = spark.createDataFrame([("a b c",), ("d e",)], "text string")
            print(sorted(r[0] for r in df.select(token_count_udf("text")).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[2, 3]"
