"""Partitioning/skew utility tests: salted join correctness, bucketed
shuffle-free joins, repartition reuse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firmable_aus_etl_spark import plans
from firmable_aus_etl_spark.operators import partitioning


def test_salted_join_matches_plain_join(spark):
    # skewed big side: one hot key holds most rows
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(10)], "key int, v int"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "key int, name string")
    plain = big.join(small, "key").groupBy("key").count()
    salted = partitioning.salted_join(big, small, "key").groupBy("key").count()
    assert {(r.key, r["count"]) for r in salted.collect()} == {
        (r.key, r["count"]) for r in plain.collect()
    }


def test_salted_join_deterministic(spark):
    big = spark.createDataFrame([(1, i) for i in range(50)], "key int, v int")
    small = spark.createDataFrame([(1, "x")], "key int, name string")
    a = sorted(map(tuple, partitioning.salted_join(big, small, "key").collect()))
    b = sorted(map(tuple, partitioning.salted_join(big, small, "key").collect()))
    assert a == b


def test_bucketed_join_no_exchange(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets_db")
    spark.catalog.setCurrentDatabase("buckets_db")
    left = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 1000).withColumn("w", F.col("id") * 3)
    partitioning.write_bucketed(
        left, "bl", ["id"], buckets=4, sort_by=["id"], path=str(tmp_path / "bl")
    )
    partitioning.write_bucketed(
        right, "br", ["id"], buckets=4, sort_by=["id"], path=str(tmp_path / "br")
    )
    joined = partitioning.read_bucketed(spark, "bl").join(
        partitioning.read_bucketed(spark, "br"), "id"
    )
    # co-bucketed join: zero shuffle exchanges in the plan
    assert plans.count_exchanges(joined) == 0, plans.physical_plan(joined)
    assert joined.count() == 1000
    spark.sql("DROP TABLE IF EXISTS bl")
    spark.sql("DROP TABLE IF EXISTS br")


def test_repartition_for_reuses_exchange(spark):
    df = spark.createDataFrame([(i % 10, i) for i in range(100)], "k int, v int")
    pre = partitioning.repartition_for(df, "k", partitions=8)
    agg = pre.groupBy("k").count()
    # groupBy reuses the repartition's hash distribution: exactly one
    # exchange (the explicit one), not two
    assert plans.count_exchanges(agg) == 1, plans.physical_plan(agg)


def test_ensure_parallelism_widens_narrow_input(spark, tmp_path):
    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() == 1
    widened = partitioning.ensure_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert widened.count() == 1000


def test_ensure_parallelism_noop_when_already_wide(spark):
    wide = spark.range(1000, numPartitions=64)
    out = partitioning.ensure_parallelism(wide, min_partitions=32)
    # already wider than the floor -> same plan, NO repartition shuffle
    assert out.rdd.getNumPartitions() == 64
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_zorder_key_interleaves_bits(spark):
    from firmable_aus_etl_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5)], "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key("x", "y", bits=4).alias("z")).collect()
    }

    def morton(x, y, bits=4):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y, z)


def test_zorder_layout_narrows_stats_on_all_dimensions(spark, tmp_path):
    """Measured, not asserted-by-faith: Z-order clustering keeps
    per-file min/max windows tight on BOTH join keys, while a
    single-column sort leaves the second key's windows spanning the
    whole domain — i.e. zero file skipping on that dimension. This is
    the layout lever that makes point/range scans on either key read
    a fraction of a 100 TB table."""
    import pyarrow.parquet as pq
    import glob

    from firmable_aus_etl_spark.datasets import load_table
    from firmable_aus_etl_spark.operators.partitioning import write_zordered

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    dom = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).first()

    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", files=8)
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def widths(path):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg)
                    .column(i)
                    .statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                out.append(
                    (
                        (cols["l_partkey"].max - cols["l_partkey"].min) / dom.p,
                        (cols["l_suppkey"].max - cols["l_suppkey"].min) / dom.s,
                    )
                )
        return out

    zw = widths(zpath)
    sw = widths(spath)
    z_part = sum(w for w, _ in zw) / len(zw)
    z_supp = sum(w for _, w in zw) / len(zw)
    s_part = sum(w for w, _ in sw) / len(sw)
    s_supp = sum(w for _, w in sw) / len(sw)

    # single-column sort: near-perfect on partkey, useless on suppkey
    assert s_part < 0.35
    assert s_supp > 0.9
    # z-order: materially narrow on BOTH dimensions. 0.65, not 0.6:
    # the exact mean width wobbles a few percent with the range
    # partitioner's sampled boundaries (which shift with the input's
    # AQE-coalesced partitioning, i.e. with what ran earlier in the
    # session — observed 0.609 after the layout suite); the claim is
    # "a fraction of the domain on BOTH dims" vs the 1-D sort's 1.0,
    # and tests/test_layout.py pins the sharper row-group-straddle
    # measurement.
    assert z_part < 0.65 and z_supp < 0.65, (z_part, z_supp, s_part, s_supp)
    # and the clustered write loses no rows
    assert spark.read.parquet(zpath).count() == li.count()


def test_compact_small_files_reduces_count_keeps_rows(spark, tmp_path):
    from firmable_aus_etl_spark.operators.partitioning import compact_small_files

    p = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 100)
    df.repartition(64).write.parquet(p)  # fragmented layout
    import glob

    assert len(glob.glob(f"{p}/*.parquet")) == 64
    stats = compact_small_files(spark, p, target_file_bytes=1 << 30)
    assert stats["files_before"] == 64 and stats["files_after"] == 1
    back = spark.read.parquet(p)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == 10_000 * 9_999 // 2


def test_compact_sorted_keeps_stats_tight(spark, tmp_path):
    from firmable_aus_etl_spark.operators.partitioning import compact_small_files

    p = str(tmp_path / "frag2")
    spark.range(0, 50_000).withColumn(
        "k", (F.col("id") * 7919) % 1000
    ).repartition(32).write.parquet(p)
    stats = compact_small_files(
        spark, p, target_file_bytes=220_000, sort_cols=["k"]
    )
    assert 1 < stats["files_after"] < 32
    # range-partitioned + sorted: each output file covers a narrow,
    # non-overlapping k range -> mean width << domain
    import pyarrow.parquet as pq
    import glob

    spans = []
    for f in glob.glob(f"{p}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        ks = [
            (md.row_group(i).column(1).statistics.min,
             md.row_group(i).column(1).statistics.max)
            for i in range(md.num_row_groups)
        ]
        spans.append((min(k[0] for k in ks), max(k[1] for k in ks)))
    widths = [hi - lo for lo, hi in spans]
    assert sum(widths) / len(widths) < 1000 / max(2, len(widths)) * 2


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's skew-join handling is the runtime HALF of the skew story
    (salted_join is the static half): with realistic thresholds scaled
    down to fixture size, a sort-merge join against a hot key must
    come back from adaptive planning with the skewed partition SPLIT
    (skew=true on the SMJ), and the result must equal the plain join.
    This is the lever that absorbs 100 TB hot keys without a manual
    salt."""
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        # one hot key with 200k wide rows, 1000 uniform keys
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") < 150_000, F.lit(0))
            .otherwise(F.pmod("id", F.lit(1000)))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # correctness: every big row finds exactly one dim row
        n = big.join(dim, "k").count()
        assert n == 200_000
        # execute THIS DataFrame (~0-row collect; the join still runs
        # fully) so its queryExecution carries the final adaptive plan.
        # The filter references BOTH sides via a hash, so it cannot
        # push below the join or be proven empty (which would let AQE
        # replace the whole join with an EmptyRelation).
        joined = big.join(dim, "k").filter(
            F.xxhash64("pad", "v") == F.lit(123)
        )
        assert joined.collect() == []
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_local_frame_is_a_local_relation_empty_or_not(spark):
    for rows in ([], [(1, "a"), (2, None)]):
        df = partitioning.local_frame(spark, rows, "id long, s string")
        plan = plans.physical_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.schema.simpleString() == "struct<id:bigint,s:string>"
        assert [tuple(r) for r in df.collect()] == rows
