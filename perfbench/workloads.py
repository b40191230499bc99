"""The benchmark workloads: their operations and their checks.

An operation is one unit of closed-loop load: one query (build, then a
``noop`` sink), one merge, one ingest or one read. A pass is one round
of operations; the first pass in a fresh session is the cold pass.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
from pyspark.sql import functions as F

from firmable_aus_etl_spark.datasets import TABLE_NAMES
from firmable_aus_etl_spark.operators.dedup import verified_near_dup_pairs
from firmable_aus_etl_spark.queries import ORACLE, PIPELINE_QUERIES, QUERIES
from firmable_aus_etl_spark.sources import lakehouse
from firmable_aus_etl_spark.streaming import incremental

ALL_QUERIES = {**QUERIES, **PIPELINE_QUERIES}

# Nine of bench.HEADLINE's 42 queries. Eight whose wall is fixed per-job
# cost and build-time statistics: scan + aggregate, fact joins, window
# top-k, merge-upsert, JSON, as-of, and the build-time clustering and
# triangle counting of near_dup_clusters and copurchase_graph_summary. One,
# semantic_dedup_cell_blocked, runs the Arrow/pandas vector kernels, as
# the near-dup and similarity part of the 42 does.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "topk_lineitems_per_order",
    "merge_upsert_orders",
    "events_json_agg",
    "asof_error_last_purchase",
    "near_dup_clusters",
    "copurchase_graph_summary",
    "semantic_dedup_cell_blocked",
]

THRESHOLD = 0.5  # ingest near-dup Jaccard threshold


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    sink: Callable[[Any], Any]
    sink_span: str = "exec.noop_sink"


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NAN>" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def result_digest(cols: list[str], rows: list, drop_one: bool = False) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns taken by name."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    cells = sorted("|".join(_cell(r[i]) for i in idx) for r in rows)
    if drop_one and cells:
        cells.pop()
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in cells:
        h.update(line.encode() + b"\n")
    return len(cells), h.hexdigest()


def _spark_digest(df, drop_one: bool = False) -> tuple[int, str]:
    return result_digest(df.columns, [tuple(r) for r in df.collect()], drop_one)


def _duck_digest(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    return result_digest([d[0] for d in res.description], res.fetchall())


class QueryWorkload:
    """Registry queries on one generated table directory."""

    def __init__(self, name: str, data_dir: str, queries: list[str]):
        self.name = name
        self.data_dir = data_dir
        self.queries = queries
        self.passes = 0
        self.built: dict = {}  # query name -> DataFrame of the latest pass

    def start(self, spark, work_dir: str) -> None:
        self.spark = spark

    def next_pass(self, seed: int) -> list[Op] | None:
        """The cold pass runs in registry order, so which query pays the
        JVM's first-query cost does not depend on the seed; the seed
        permutes every later pass. Each built DataFrame is kept for the
        verification pass."""
        names = list(self.queries)
        if self.passes:
            random.Random(seed * 7919 + self.passes).shuffle(names)
        self.passes += 1

        def build(n):
            self.built[n] = ALL_QUERIES[n](self.spark, self.data_dir)
            return self.built[n]

        return [Op(n, lambda n=n: build(n), noop_sink) for n in names]

    def documents(self):
        return self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))

    def footprint(self) -> tuple[int, int, int]:
        return 0, 0, 0  # (on-disk, live, user batch) bytes: nothing is written

    def verify(self, corrupt: bool) -> dict[str, str]:
        """Failed checks keyed by query name: each query's DataFrame from
        the last timed pass, collected again, against its DuckDB twin."""
        con = duckdb.connect()
        for t in TABLE_NAMES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        failed = {}
        for i, n in enumerate(self.queries):
            drop = corrupt and i == 0
            try:
                got = _spark_digest(self.built[n], drop)
                want = _duck_digest(con, ORACLE[n])
            except Exception as e:  # a raise is a failed check
                failed[n] = f"{type(e).__name__}: {e}"[:200]
                continue
            if got != want:
                failed[n] = f"rows/hash {got[0]}/{got[1][:12]} != {want[0]}/{want[1][:12]}"
        con.close()
        return failed


class IncrementalWorkload:
    """Partitioned-snapshot merges, incremental near-dup ingest and a
    snapshot-join read, one of each per round."""

    name = "incremental-load"

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.rounds = len([f for f in os.listdir(data_dir) if f.startswith("merge_")])
        self.passes = 0
        self.ingest_stats: list[dict] = []
        self.user_bytes = 0

    def start(self, spark, work_dir: str) -> None:
        self.spark = spark
        self.table = os.path.join(work_dir, "orders_table")
        self.state = os.path.join(work_dir, "ingest_state")
        for d in (self.table, self.state):
            shutil.rmtree(d, ignore_errors=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    def _read_parquet(self, name: str):
        self.user_bytes += os.path.getsize(self._path(name))
        return self.spark.read.parquet(self._path(name))

    def revenue_by_month(self):
        orders = lakehouse.read_snapshot(self.spark, self.table)
        li = self.spark.read.parquet(self._path("lineitem.parquet"))
        return (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_month")
            .agg(
                F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)).alias("cents"),
                F.count(F.lit(1)).alias("lines"),
            )
        )

    def next_pass(self, seed: int) -> list[Op] | None:
        r = self.passes
        if r >= self.rounds:
            return None
        self.passes += 1
        ops = []
        if r == 0:
            ops.append(Op(
                "write",
                lambda: self._read_parquet("orders.parquet"),
                lambda df: lakehouse.write_snapshot(df, self.table, partition_by=["o_month"]),
                "lakehouse.write_snapshot",
            ))
        ops.append(Op(
            "merge",
            lambda: self._read_parquet(f"merge_{r:03d}.parquet"),
            lambda df: lakehouse.merge_into_partitioned_snapshot(
                self.spark, self.table, df, ["o_orderkey"], "o_month"
            ),
            "lakehouse.merge_into_partitioned_snapshot",
        ))
        ops.append(Op(
            "ingest",
            lambda: self._read_parquet(f"ingest_{r:03d}.parquet"),
            lambda df: self.ingest_stats.append(
                incremental.ingest_increment(self.spark, df, self.state, threshold=THRESHOLD)
            ),
            "incremental.ingest_increment",
        ))
        ops.append(Op("read", self.revenue_by_month, noop_sink))
        return ops

    def documents(self):
        """Every document ingested so far, survivors or not."""
        names = [self._path(f"ingest_{r:03d}.parquet") for r in range(self.passes)]
        return self.spark.read.parquet(*names)

    def footprint(self) -> tuple[int, int, int]:
        """(on-disk, live, user batch) bytes: everything under the table
        and state dirs with hard links counted once; the latest snapshot
        plus the surviving corpus; the batch files read."""
        snap = os.path.join(self.table, f"snapshot={lakehouse.latest_version(self.table)}")
        live = _tree_bytes(snap, os.path.join(self.state, "corpus"))
        return _tree_bytes(self.table, self.state), live, self.user_bytes

    def _expected_orders_sql(self) -> str:
        parts = [f"SELECT *, 0 AS __b FROM '{self._path('orders.parquet')}'"]
        parts += [
            f"SELECT *, {r + 1} AS __b FROM '{self._path(f'merge_{r:03d}.parquet')}'"
            for r in range(self.passes)
        ]
        return (
            "SELECT * EXCLUDE (__b, __rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY o_orderkey ORDER BY __b DESC) AS __rn FROM ("
            + " UNION ALL ".join(parts) + ")) WHERE __rn = 1"
        )

    def verify(self, corrupt: bool) -> dict[str, str]:
        """Final snapshot == one-shot DuckDB merge of the same batches;
        surviving corpus == from-scratch recompute; read == DuckDB."""
        failed = {}
        con = duckdb.connect()
        con.execute(f"CREATE VIEW expected AS {self._expected_orders_sql()}")
        li = self._path("lineitem.parquet")
        checks = {
            "merge": (
                lambda: _spark_digest(lakehouse.read_snapshot(self.spark, self.table), corrupt),
                lambda: _duck_digest(con, "SELECT * FROM expected"),
            ),
            "read": (
                lambda: _spark_digest(self.revenue_by_month()),
                lambda: _duck_digest(con, (
                    "SELECT o_month, CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS cents, "
                    f"count(*) AS lines FROM expected JOIN '{li}' ON o_orderkey = l_orderkey "
                    "GROUP BY o_month"
                )),
            ),
            "ingest": (self._corpus_ids, self._recomputed_ids),
        }
        for kind, (got_fn, want_fn) in checks.items():
            try:
                got, want = got_fn(), want_fn()
            except Exception as e:
                failed[kind] = f"{type(e).__name__}: {e}"[:200]
                continue
            if got != want:
                failed[kind] = "result differs from the one-shot recompute"
        con.close()
        return failed

    def _corpus_ids(self) -> list[int]:
        corpus = incremental.read_corpus(self.spark, self.state)
        return sorted(r[0] for r in corpus.select("doc_id").collect())

    def _recomputed_ids(self) -> list[int]:
        docs = self.documents()
        pairs = verified_near_dup_pairs(
            docs, "doc_id", "text", threshold=THRESHOLD,
            num_hashes=incremental.NUM_HASHES, bands=incremental.BANDS,
        )
        dropped = pairs.select(F.col("b_id").alias("doc_id")).distinct()
        kept = docs.select("doc_id").join(dropped, "doc_id", "left_anti")
        return sorted(r[0] for r in kept.collect())


def _tree_bytes(*dirs: str) -> int:
    """On-disk bytes under ``dirs``, hard links counted once."""
    seen, total = set(), 0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                st = os.lstat(os.path.join(base, f))
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    total += st.st_size
    return total


def make(workload: str, data_dir: str):
    if workload == "headline-sf0.01":
        return QueryWorkload(workload, data_dir, HEADLINE)
    if workload == "incremental-load":
        return IncrementalWorkload(data_dir)
    raise SystemExit(f"unknown workload {workload!r}")
