"""Partitioning / skew utilities — the knobs that keep the operator
library's shuffles healthy at 100 TB (SURVEY.md §7.4 scale notes).

- ``salted_join``: explicit skew-key mitigation for when AQE's runtime
  skew split isn't available (e.g. the skewed side feeds a window) —
  replicate the small side R times, scatter the big side's hot keys.
- ``write_bucketed``/``read_bucketed``: co-located joins via bucketed
  tables — repeated joins on the same key (the matcher's block key,
  FK keys) pay the shuffle once at write time, never again.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def iter_materialize(
    df: DataFrame, checkpoint_dir: str | None = None, *, eager: bool = True
) -> DataFrame:
    """Materialize an ITERATION frame (truncate lineage so plan depth
    stays O(1) per round of an iterative algorithm).

    - ``checkpoint_dir=None`` (default): ``localCheckpoint`` — blocks
      live in executor storage, no extra I/O. FAST but NOT
      fault-tolerant: losing an executor mid-iteration loses blocks
      whose truncated lineage can no longer recompute them, failing
      the job (restart from scratch). The right local/dev default.
    - ``checkpoint_dir=<path>``: reliable ``checkpoint()`` into that
      directory (HDFS/S3 in production) — blocks survive executor
      loss, so a 100 TB connected-components/pagerank run resumes the
      round instead of dying. Costs one write+read of the frame per
      materialization; amortized over rounds it is the standard price
      of durable iteration (GraphX's checkpointInterval).

    ``eager=False`` does NOT defer the upstream work to the first
    consumer under this engine's session config: with AQE on, the call
    itself plans the frame with ``toRdd``, and AQE runs every upstream
    shuffle stage right there (measured: a connected-components edge
    checkpoint ran 3 jobs, a loop checkpoint 9, while the query was
    still being built). Only the frame's final stage — the blocks
    themselves — waits for the first consumer's job.

    The checkpoint dir is set once per SparkContext (a global): the
    first reliable call pins it, later calls with a DIFFERENT dir
    re-pin (last wins — acceptable for the one-driver-loop-at-a-time
    usage these operators have).

    The reliable path PERSISTS the frame before checkpoint(): without
    a cache, Spark computes the RDD in the consuming job and then
    RECOMPUTES the whole lineage in the separate checkpoint-write job
    (checkpointing reads the RDD again; it is not captured from the
    first run) — at 100 TB that doubles every iteration (round-6
    ADVICE). With the persist, the write job reads cached blocks.
    Callers should ``iter_unpersist`` the PREVIOUS round's frame once
    the next one is materialized so the cache footprint stays O(1)
    rounds; the checkpoint files keep the durable copy.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = cached.checkpoint(eager=eager)
    # checkpoint() returns a NEW DataFrame whose plan is a LogicalRDD
    # leaf — unpersist() resolves cache entries by logical-plan match,
    # so calling it on `out` would never release `cached` (the
    # PRE-checkpoint plan that actually holds the MEMORY_AND_DISK
    # blocks). Stash the persisted handle on the returned frame so
    # iter_unpersist can release the real cache entry (round-7 ADVICE:
    # without this, caches accumulated one per round across the whole
    # CC/star loop — the exact O(rounds) footprint this API exists to
    # avoid).
    out._iter_cached = cached
    return out


def iter_unpersist(df: DataFrame | None, checkpoint_dir: str | None) -> None:
    """Release a PRIOR round's iter_materialize frame.

    Only acts on the reliable path: there the durable copy lives in the
    checkpoint files, so dropping the cache is safe. A localCheckpoint
    frame's blocks ARE its only copy — unpersisting one would destroy
    the data — so ``checkpoint_dir=None`` is a no-op by design.

    Unpersists the PRE-checkpoint cached handle that iter_materialize
    stashed as ``_iter_cached`` — the checkpointed frame itself was
    never cached (its plan is a LogicalRDD leaf), so unpersisting it
    directly would be a no-op.
    """
    if df is not None and checkpoint_dir is not None:
        getattr(df, "_iter_cached", df).unpersist()


def iter_release(df: DataFrame, checkpoint_dir: str | None) -> None:
    """Release an iter_materialize frame that no plan will read again.

    Unlike iter_unpersist this also acts on the localCheckpoint path:
    the blocks are the frame's only copy, so call it only once every
    consumer has run (e.g. after the rows were collected to the
    driver) — a later read of ``df`` would fail.
    """
    if checkpoint_dir is not None:
        iter_unpersist(df, checkpoint_dir)
    else:
        # the LogicalRDD leaf holds the locally checkpointed RDD
        df._jdf.queryExecution().logical().rdd().unpersist(False)


# Most rows an operator brings to the driver: the edge set a graph
# operator finishes there (dedup.connected_components,
# graph.graph_summary) and the hot-shingle list dedup.df_pruned_shingles
# binds into its plan as one literal. Union-find over 20k edges took
# <= 22 ms and the degree-ordered triangle count <= 64 ms (PERF.md).
_MAX_DRIVER_ROWS = 20_000


def collect_small(df: DataFrame, description: str) -> list | None:
    """``df``'s rows if it has at most ``_MAX_DRIVER_ROWS`` of them,
    else None.

    One ``limit(N + 1).collect()`` is both the size probe and the fetch,
    so a small frame costs one job and a large one a bounded read.
    ``coalesce(1)`` keeps it one job: a bare limit takes partitions in
    growing waves, one job each (3 on an ~8-partition edge frame), while
    one task reading the partitions in turn still stops after N + 1
    rows. Call
    it on a materialized frame: the route that does not fit reads the
    same blocks instead of recomputing them. The job runs under
    ``description`` so traces name it; the thread's previous job
    description is restored afterwards.
    """
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        rows = df.coalesce(1).limit(_MAX_DRIVER_ROWS + 1).collect()
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    return rows if len(rows) <= _MAX_DRIVER_ROWS else None


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` may be a DDL string).

    Goes through pandas so that, with Arrow on (session.py), Spark
    plans a LocalRelation: a plain list becomes an RDD whose scan
    starts a Python worker, which measured 0.6-0.9 s against 0.25-0.4 s
    for the noop sink of 40k rows. An empty pandas frame skips Arrow
    and plans that RDD too, so no rows go in as an empty Arrow table.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not rows:
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salting: big side gets a random-but-deterministic
    salt from a row hash; small side is replicated across all salts.

    Turns one hot key's single straggler partition into
    ``salt_buckets`` even partitions at the cost of replicating the
    small side R times — the classic trade when one key holds >>1/p of
    the rows. Deterministic salt (hash of all big-side columns, not
    rand()) keeps retries and the oracle stable.
    """
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets))
    )
    small_salted = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = big_salted.join(small_salted, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    *,
    buckets: int = 32,
    sort_by: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist bucketed+sorted by join key: subsequent equi-joins and
    aggregations on ``keys`` read shuffle-free (SortMergeJoin with no
    Exchange). The write pays one shuffle; every downstream join of two
    co-bucketed tables pays zero."""
    w = df.write.mode("overwrite").bucketBy(buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def repartition_for(df: DataFrame, *keys: str, partitions: int | None = None) -> DataFrame:
    """Pre-shuffle on the keys a downstream chain reuses (join + groupBy
    on the same key -> one Exchange instead of two)."""
    cols = [F.col(k) for k in keys]
    return df.repartition(partitions, *cols) if partitions else df.repartition(*cols)


def ensure_parallelism(
    df: DataFrame, *keys: str, min_partitions: int | None = None
) -> DataFrame:
    """Repartition ONLY if the plan currently has fewer partitions than
    the cluster's default parallelism.

    Heavy per-row map work (similarity scoring, signature hashing,
    tokenization) inherits the input's partitioning: a single small
    parquet file arrives as ONE partition and runs on one core. But an
    UNCONDITIONAL repartition is wrong at scale — at 100 TB the scan
    already yields thousands of splits and a round-robin repartition
    would be a full, pointless shuffle of the fact data. This helper
    is the scale-safe form: a no-op exactly when the input is already
    parallel enough.

    Pass ``keys`` (any well-distributed column, e.g. the row id) to get
    HASH partitioning instead of round-robin. Round-robin repartition
    is non-deterministic, so Spark prepends a full local sort of every
    column to make retries safe (``spark.sql.execution.
    sortBeforeRepartition``) — on wide text rows that sort costs more
    than the downstream work (measured 2.5x on the TF-IDF join), and it
    recurs in every unshared branch of a self-joining plan. Hash
    partitioning is deterministic: no sort, and skew only if ``keys``
    are skewed (use the row id, which never is).
    """
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()  # plan-only; no job is triggered
    if have >= want:
        return df
    if keys:
        return df.repartition(want, *[F.col(k) for k in keys])
    return df.repartition(want)


def zorder_key(*cols: str, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column so a single range-sort clusters ALL dimensions at once.

    Sorting a table by one column gives parquet min/max file skipping
    on that column only; sorting by the interleaved key gives
    every interleaved dimension locality proportional to bits used —
    the data-layout move behind Delta/Iceberg Z-ORDER, here as a pure
    column expression usable with repartitionByRange + sortWithinPartitions.
    Columns must be non-negative integers < 2^bits (pre-normalize ids
    or bucketized values; at 100 TB the normalization is a map-only
    rank/bucket pass).
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    n = len(cols)
    if bits * n > 64:
        # JVM shiftleft wraps the shift amount mod 64, which would
        # silently fold high-order bits onto low positions
        raise ValueError(
            f"bits * len(cols) = {bits * n} exceeds the 64-bit Morton key; "
            f"use bits <= {64 // n} for {n} columns"
        )
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for i, c in enumerate(cols):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(c).cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * n + i,
                )
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    *cols: str,
    files: int = 8,
    bits: int = 8,
    write_options: dict | None = None,
) -> None:
    """Persist clustered by the Z-order of ``cols``: range-partition on
    the Morton key (balanced files via range sampling), sort within
    each file so row-group stats stay tight on every dimension.

    Columns are first min/max-normalized onto a common ``bits``-wide
    integer range — interleaving RAW ids of unequal magnitude puts one
    column's high bits above every bit of the narrower column, which
    degenerates to a single-column sort (measured in
    test_zorder_layout_narrows_stats_on_all_dimensions). The min/max
    pass is a tiny all-agg job; at 100 TB use known domain bounds or
    sketch them.

    ``write_options`` passes parquet writer options through (e.g.
    ``{"parquet.block.size": "8192"}`` to pin row-group granularity —
    layout tests use it so row-group-level pruning measurements can't
    drift with the writer's default memory-based flush).
    """
    top = (1 << bits) - 1
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).first()
    scaled = df
    for c in cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        span = (hi - lo) or 1.0
        scaled = scaled.withColumn(
            f"__n_{c}",
            F.floor((F.col(c).cast("double") - lo) * top / span).cast("long"),
        )
    zk = zorder_key(*[f"__n_{c}" for c in cols], bits=bits)
    w = (
        scaled.withColumn("__zk", zk)
        .repartitionByRange(files, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk", *[f"__n_{c}" for c in cols])
        .write.mode("overwrite")
    )
    if write_options:
        w = w.options(**write_options)
    w.parquet(path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    sort_cols: Sequence[str] = (),
) -> dict:
    """Small-file compaction — the OPTIMIZE half of Delta/Iceberg table
    maintenance as plain Spark: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (streaming sinks
    and per-batch writers accrete thousands of KB-sized files whose
    open/footer overhead dominates scans long before data volume
    does). With ``sort_cols`` the rewrite also range-partitions + sorts
    so row-group min/max stats come out tight (pair with
    ``write_zordered`` for multi-dimensional clustering).

    The rewrite lands in a sibling temp dir and swaps in via directory
    rename, so a concurrent reader sees the old or the new layout,
    never a partial one. (Local/HDFS semantics; on object stores the
    swap belongs to a table-format commit instead.)
    """
    import glob as _glob
    import math as _math
    import os
    import shutil

    base = path.rstrip("/")
    files = _glob.glob(os.path.join(base, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, _math.ceil(total / target_file_bytes))
    df = spark.read.parquet(base)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_out)
    tmp, old = base + ".__compact_tmp", base + ".__compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(_glob.glob(os.path.join(base, "*.parquet"))),
        "bytes": total,
    }
