"""Strict-schema loaders for the driver testdata tables."""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from time import perf_counter
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from firmable_aus_etl_spark.schemas import TESTDATA_SCHEMAS

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table with its declared schema.

    Declared schemas keep the scan strict and let Catalyst prune columns
    and push filters into the parquet reader (ReadSchema/PushedFilters in
    the physical plan) — at 100 TB the scan is the dominant cost and a
    scan that reads all columns is wrong.

    events: the parquet ts encoding has varied across testdata
    generations (TIMESTAMP MICROS vs TIMESTAMP(NANOS); Spark 4 rejects
    the latter as TimestampType, PARQUET_TYPE_ILLEGAL). The footer is
    probed once driver-side: ns-encoded files are read as nanosecond
    longs (session conf nanosAsLong) and converted to a microsecond
    TimestampType; us/ms files map to TimestampType directly. Either
    way downstream operators see an ordinary event-time column.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _parquet_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ns_schema = StructType(
            [
                StructField(f.name, LongType() if f.name == "ts" else f.dataType)
                for f in TESTDATA_SCHEMAS[name].fields
            ]
        )
        return (
            spark.read.schema(ns_schema)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        )
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def _parquet_ts_unit(path: str) -> str:
    """Timestamp unit ('ns'/'us'/'ms') of a parquet table's ts column,
    probed from the footer of one part-file (driver-side, no Spark job)."""
    import pyarrow.parquet as pq

    parts = _table_files(path)
    if not parts:
        return "us"
    t = pq.read_schema(parts[0]).field("ts").type
    return getattr(t, "unit", "us")


def _table_files(path: str) -> list[str]:
    """Part files of a parquet table: the file itself, or the sorted
    ``*.parquet`` files of a dataset directory."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path] if os.path.exists(path) else []


#: Planner-statistics memo: (sf_dir, table, newest file mtime, name) ->
#: (value, seconds the miss took). Seconds are written once per miss, so
#: the sum over entries only grows; bench.py reads its deltas as the
#: per-query sizing_jobs_sec.
TABLE_STATS: dict[tuple, tuple[Any, float]] = {}


def table_stat(sf_dir: str, table: str, name: str, compute: Callable[[], Any]) -> Any:
    """Memoized planner statistic ``name`` of one testdata table.

    Adaptive queries size themselves from table statistics (row counts,
    plan samples, candidate mass), the way an engine reuses ANALYZE
    output: ``compute()`` runs once per (sf_dir, table, newest file
    mtime, name) and is timed, so rewriting the table's files
    invalidates the entry instead of serving a stale plan. Deterministic
    inputs give deterministic statistics, so a memo hit never changes a
    query's result.
    """
    path = f"{sf_dir}/{table}.parquet"
    mtime = max((os.path.getmtime(p) for p in _table_files(path)), default=0.0)
    key = (sf_dir, table, mtime, name)
    if key not in TABLE_STATS:
        t0 = perf_counter()
        value = compute()
        TABLE_STATS[key] = (value, perf_counter() - t0)
    return TABLE_STATS[key][0]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables as a dict of lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
