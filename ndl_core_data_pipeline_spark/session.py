"""SparkSession factory.

Defaults chosen for correctness-first determinism and scale-readiness:
UTC session timezone (oracle parity), Arrow-accelerated pandas interchange,
AQE on (runtime coalesce + skew-join handling — the 100 TB posture), shuffle
partitions sized to the local core count rather than the 200 default.

Python workers start through ``pydaemon`` (``spark.python.daemon.module``),
which runs them on the installed PySpark instead of Spark's ``pyspark.zip``
when the versions match: about 0.12 s less per Python task (see its
docstring). The daemon starts as ``python -m`` in the JVM's working
directory, so ``spark.executorEnv.PYTHONPATH`` adds this package's parent
directory to the workers' path; Spark merges it with its own entries and
the environment's PYTHONPATH. Without it no Python stage can start when
the JVM runs outside the checkout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "ndl_core_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # r19 (guide §7.3 driver-side cost): PySpark 4's DataFrame
        # debugging wraps EVERY Column/DataFrame op with a call-site
        # capture — an inspect stack walk plus a conf-get py4j round
        # trip per op, measured ~3 ms/op (q1's seven dcast aggregates
        # alone paid 0.4 s of driver time per build). It only decorates
        # error messages with Python line numbers; results and plans
        # are identical. Must be set at build: the flag is cached
        # process-wide on first Column op.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
