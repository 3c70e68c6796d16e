"""SparkSession factory: ``local[cores]`` on the host's cores (or
``SPARK_GRAFT_CPUS``), with cluster-honest defaults (AQE, UTC, Arrow)
and shuffle partitions sized to the core count."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "indicators_spark", cores: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce the output partitioning of persisted plans too
        # (off by default) — a cached skinny aggregate otherwise pins the
        # pre-AQE reducer count and every downstream scan pays one task
        # per empty partition (hit by the iterative graph kernels, whose
        # persisted edge lists are read once per superstep)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # progress bars emit raw control chars on stderr; the driver's
        # BENCH artifact captures the output tail verbatim, so keep the
        # stream clean (static conf — must be set before context start)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
