"""The `mergetree` connector in data-source runner processes that do not
have this repository on their path.

Every method of a Python data source runs in a runner process, and a
worker started by ``python -m pyspark.daemon`` has the driver's working
directory on its path. A session started from the repository's root
therefore imports the package in its runners by accident. This test
starts a fresh driver with its working directory under ``tmp_path`` and
no ``PYTHONPATH``, with the repository only on the driver's ``sys.path``,
so the runners see only what ``register_mergetree`` ships by value.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ROUND_TRIP = textwrap.dedent(
    """
    import os
    import sys

    sys.path.insert(0, sys.argv[1])
    root = sys.argv[2]
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[2]")
             .appName("mergetree-runner-path")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    from clickhouse_mergetree_spark.sources import register_mergetree

    register_mergetree(spark)
    path = os.path.join(root, "table")
    schema = "key string, value string, timestamp long"

    def rows(lo, n):
        return spark.createDataFrame(
            [(f"k{i:03d}", "v", i) for i in range(lo, lo + n)], schema)

    def scan():
        return spark.read.format("mergetree").option("path", path).load()

    rows(0, 20).write.format("mergetree").option("path", path) \\
        .mode("append").save()
    rows(20, 20).write.format("mergetree").option("path", path) \\
        .mode("append").save()
    assert scan().count() == 40
    rows(100, 30).write.format("mergetree").option("path", path) \\
        .mode("overwrite").save()
    hit = scan().filter(F.col("key") == "k105").collect()
    assert [r.timestamp for r in hit] == [105], hit

    src = os.path.join(root, "src")
    rows(200, 10).write.parquet(src)
    (spark.readStream.schema(schema).parquet(src)
     .writeStream.format("mergetree").option("path", path)
     .option("checkpointLocation", os.path.join(root, "ck_in"))
     .trigger(availableNow=True).start().awaitTermination())
    (spark.readStream.format("mergetree").option("path", path).load()
     .writeStream.format("memory").queryName("mt_out")
     .option("checkpointLocation", os.path.join(root, "ck_out"))
     .trigger(availableNow=True).start().awaitTermination())
    assert spark.table("mt_out").count() == 40
    print("RUNNER_PATH_OK")
    spark.stop()
    """
)


def test_connector_round_trip_without_the_repo_on_the_runner_path(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _ROUND_TRIP, REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=cwd, env=env)
    assert proc.returncode == 0, (
        f"round trip failed:\nSTDOUT:\n{proc.stdout[-3000:]}\n"
        f"STDERR:\n{proc.stderr[-3000:]}")
    assert "RUNNER_PATH_OK" in proc.stdout
