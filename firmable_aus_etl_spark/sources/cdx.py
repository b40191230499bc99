"""Common Crawl CDX index source (SURVEY.md cdx-source).

The reference pages through the CDX API with limit/offset and a
tolerant per-line JSON parse (reference: extract_common_crawl.py:21-43,
144-163). Spark-first re-expression:

- the HTTP fetch stays outside the engine (``CDX_API`` plus
  ``cdx_request_params`` give the page request); the engine itself
  never blocks on the network inside a task;
- fetched shards land as JSON-lines files and are scanned with the
  PERMISSIVE reader (bad lines -> _corrupt_record, not job failure);
- pagination becomes one row per (offset) shard — a partitioned read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from firmable_aus_etl_spark.sources.files import read_json_lines

CDX_API = "https://index.commoncrawl.org/CC-MAIN-2024-10-index"

CDX_SCHEMA = StructType(
    [
        StructField("urlkey", StringType(), True),
        StructField("timestamp", StringType(), True),
        StructField("url", StringType(), True),
        StructField("mime", StringType(), True),
        StructField("status", StringType(), True),
        StructField("digest", StringType(), True),
        StructField("length", LongType(), True),
        StructField("offset", LongType(), True),
        StructField("filename", StringType(), True),
    ]
)


def cdx_request_params(
    domain_pattern: str, *, limit: int = 1000, offset: int = 0
) -> dict[str, str]:
    """Build CDX query params (pure function; unit-testable offline).

    reference: extract_common_crawl.py:24-31 (url pattern, output=json,
    limit/offset pagination).
    """
    return {
        "url": domain_pattern,
        "output": "json",
        "limit": str(limit),
        "offset": str(offset),
    }


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Scan CDX JSON-lines shards with corrupt-line tolerance."""
    return read_json_lines(spark, path, CDX_SCHEMA)
