"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and degrades gracefully on a laptop:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are the difference between a plan
  that survives skewed 100 TB inputs and one that doesn't.
- Arrow on: every pandas UDF / ``toPandas`` crossing is Arrow-batched.
- Broadcast threshold left at default (10 MB) but dimension joins in
  ``operators/joins.py`` broadcast explicitly — at 100 TB the fact side
  must never be shuffled against a 5-row ``region`` table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition default for local runs. On a real cluster this is
# overridden (or better: left to AQE's coalescing with a high initial
# count, e.g. 2000 for 100 TB inputs).
_LOCAL_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def get_session(
    app_name: str = "firmable_aus_etl_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    The driver harness passes its own session to ``__spark_entry__``
    functions; this factory is for tests, bench.py, and standalone use.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _LOCAL_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet vectorized reader + pushdown are on by default; pinned
        # here so a misconfigured environment can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
