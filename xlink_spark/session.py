"""SparkSession construction with scale-conscious defaults.

The engine targets multi-executor clusters at 10^12-document scale; in this
sandbox everything runs on a single JVM (``local[N]``).  All settings below
are equally valid on a real cluster — nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xlink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the linking pipeline.

    Key choices, and why they hold at 100 TB:

    * **AQE on** (+ skew-join splitting): head anchors such as country names
      produce skewed blocking keys; AQE splits oversized post-shuffle
      partitions at runtime, complementing the explicit salting done in
      :mod:`xlink_spark.operators.detect`.
    * **Arrow on**: every Python crossing is an Arrow batch (pandas UDFs /
      mapInPandas); row-at-a-time Python UDFs are banned in this codebase.
    * **shuffle partitions ~ cores locally**; on a real cluster this should
      be set to 2-3x total cores (or left to AQE coalescing, which is on).
    * **maxPartitionBytes 128m**: keeps scan tasks sized so a 100 TB input
      yields ~800k tasks — fine for a 1000-executor cluster, and locally the
      test inputs still produce enough splits to exercise parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("XLINK_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(os.environ.get("XLINK_SHUFFLE_PARTITIONS", cpus)), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("XLINK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
