"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
100 TB / 1000-executor target: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), modest shuffle-partition default that
AQE coalesces down locally and scales up on a cluster, and Arrow enabled
so any Pandas-UDF path (multimodal decode, streaming state) is batched.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory holding the package: Python workers import it from here
# whatever the working directory
_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])


def get_spark(app_name: str = "aprs2influxdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # the two-stage line-protocol serializer stages ~50 field columns
        # beside the ~45 packet columns; the default maxFields=100 would
        # silently drop that projection out of whole-stage codegen
        .config("spark.sql.codegen.maxFields", "400")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    # the environment every Python function hands its workers, as the
    # context built it from spark.executorEnv.* (spark-defaults.conf
    # included): the package's parent goes first, a deployment's
    # PYTHONPATH stays after it (and, in local mode, the driver's own)
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark

