"""Query registry: every SURVEY.md §2 operator instantiated on the
driver testdata tables, with a DuckDB oracle-SQL twin.

Contract (see /root/repo/__spark_entry__.py): each entry here is a
callable ``(spark, sf_dir) -> DataFrame``; ORACLE[name] is ANSI-ish SQL
DuckDB runs against the same parquet registered as views. Column names
are aliased identically on both sides; floats that cross an
engine-specific aggregation order are rounded on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from firmable_aus_etl_spark.datasets import load_table, table_stat
from firmable_aus_etl_spark.operators import aggregates as agg
from firmable_aus_etl_spark.operators import dedup, joins
from firmable_aus_etl_spark.operators.windows import topk_per_group

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

#: Rows-only surface: operators whose OUTPUT has no ANSI-SQL twin —
#: either a physical variant of an oracle-bearing default (xxhash64 vs
#: portable md5 hashing; runtime-trained vs fixed IVF centroids) or a
#: genuinely non-SQL-expressible computation (greedy bin packing, the
#: BPE merge fixpoint, engine-specific sketch bytes). These are NOT
#: exported through the driver contract (``__spark_entry__.queries()``
#: returns only oracle-bearing names); they stay first-class for bench,
#: plans, determinism and pytest coverage via this registry. Every
#: entry's exactness is covered elsewhere: the md5/xxhash and
#: fixed/trained twins share one code path with an oracle-green default
#: (round-5 verdict item #1), and pack/bpe/sketch carry parity or
#: error-bound tests in tests/.
PIPELINE_QUERIES: dict[str, QueryFn] = {}


def _cents(col, decimals: int = 2):
    """Exact per-row integer scaling: floor(x * 10^d + 0.5).

    The per-row double arithmetic is bit-identical in Spark and DuckDB;
    summing the resulting integers is order-independent, so money
    aggregates built on this are immune to partial-agg-order FP noise
    (plain sum(double) differs in the last bits run to run, which can
    flip a round() at a half-cent boundary).
    """
    return F.floor(col * float(10 ** decimals) + 0.5).cast("long")


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def register_pipeline(name: str):
    """Register into the rows-only PIPELINE_QUERIES surface (see its
    docstring) — kept out of the driver-sampleable ``QUERIES`` so every
    name the driver can sample is oracle-bearing."""

    def deco(fn: QueryFn) -> QueryFn:
        PIPELINE_QUERIES[name] = fn
        return fn

    return deco


__all__ = [
    "Callable",
    "DataFrame",
    "F",
    "ORACLE",
    "PIPELINE_QUERIES",
    "QUERIES",
    "QueryFn",
    "SparkSession",
    "_cents",
    "agg",
    "dedup",
    "joins",
    "load_table",
    "register",
    "register_pipeline",
    "table_stat",
    "topk_per_group",
]
