"""Incremental corpus ingestion: cross-batch near-dup filtering must
equal the from-scratch batch recompute (the signature store remembers
dropped docs, so chains cannot leak), and the streaming wrapper drives
the same state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firmable_aus_etl_spark.datasets import load_table
from firmable_aus_etl_spark.operators.dedup import verified_near_dup_pairs
from firmable_aus_etl_spark.streaming.incremental import (
    ingest_increment,
    ingest_stream,
)

SF = "/root/testdata/sf0.001"
THRESH = 0.5


@pytest.fixture()
def corpus(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # plant cross-batch chains: near-identical copies of doc 0 and 1
    # landing in LATER batches (ids chosen to split across batches)
    base = {r.doc_id: r.text for r in docs.filter(F.col("doc_id") < 2).collect()}
    extra = [
        (10_001, base[0] + " tailtoken"),          # batch 2: dup of 0
        (20_001, base[0] + " tailtoken moretail"),  # batch 3: dup of 10_001 (and 0)
        (20_002, base[1] + " x"),                   # batch 3: dup of 1
    ]
    return docs.unionByName(
        docs.sparkSession.createDataFrame(extra, "doc_id long, text string")
    )


def _batches(corpus):
    return [
        corpus.filter(F.col("doc_id") < 200),
        corpus.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 20_000)),
        corpus.filter(F.col("doc_id") >= 20_000),
    ]


def _batch_recompute_survivors(corpus):
    """Pair-min over the FULL corpus: drop any doc with a verified
    near-dup of smaller id."""
    pairs = verified_near_dup_pairs(
        corpus, "doc_id", "text", threshold=THRESH, num_hashes=32, bands=16
    )
    dropped = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    return {
        r.doc_id
        for r in corpus.select("doc_id").join(dropped, "doc_id", "left_anti").collect()
    }


def test_incremental_equals_batch_recompute(spark, corpus, tmp_path, monkeypatch):
    from firmable_aus_etl_spark import plans
    from firmable_aus_etl_spark.operators.partitioning import local_frame
    from firmable_aus_etl_spark.streaming import incremental

    # every driver-built frame of the ingest (the empty first-batch
    # history, the dropped ids) must be a local relation, empty or not
    built = []

    def spy(spark_, rows, schema):
        df = local_frame(spark_, rows, schema)
        built.append((len(rows), plans.physical_plan(df)))
        return df

    monkeypatch.setattr(incremental, "local_frame", spy)
    state = str(tmp_path / "state")
    stats = [
        ingest_increment(spark, b, state, threshold=THRESH) for b in _batches(corpus)
    ]
    assert {0} < {n for n, _ in built}, built
    for n, plan in built:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (n, plan)
    got = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    want = _batch_recompute_survivors(corpus)
    assert got == want
    # the planted later-batch dups were dropped against history
    assert 10_001 not in got and 20_001 not in got and 20_002 not in got
    assert sum(s["dropped"] for s in stats) == corpus.count() - len(want)
    # chain memory: 20_001 collides with dropped 10_001; it must still
    # be dropped even if it did not collide with surviving 0 directly
    assert stats[2]["dropped"] >= 2


def test_signature_store_remembers_dropped_docs(spark, corpus, tmp_path):
    state = str(tmp_path / "state")
    for b in _batches(corpus):
        ingest_increment(spark, b, state, threshold=THRESH)
    seen = spark.read.parquet(f"{state}/sig_store").select("doc_id").distinct().count()
    assert seen == corpus.count()  # survivors AND dropped
    kept = spark.read.parquet(f"{state}/corpus").count()
    assert kept < seen


def test_streaming_wrapper_drives_same_state(spark, corpus, tmp_path):
    import time

    src = str(tmp_path / "src")
    for b in _batches(corpus):
        b.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # file source orders batches by mod time

    state = str(tmp_path / "state_stream")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest_stream(
        stream, state, checkpoint=str(tmp_path / "ckpt"), threshold=THRESH
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert got == _batch_recompute_survivors(corpus)


def test_ingest_replay_is_idempotent(spark, corpus, tmp_path):
    """foreachBatch is at-least-once: a batch retried after a completed
    (or partial) write but before checkpoint commit must re-derive the
    same state, not append duplicates — even when the replayed input
    arrives with a different partition layout."""
    from firmable_aus_etl_spark.streaming.incremental import read_corpus

    state = str(tmp_path / "state")
    batches = _batches(corpus)
    for i, b in enumerate(batches):
        ingest_increment(spark, b, state, threshold=THRESH, batch_id=i)
    clean = {r.doc_id for r in read_corpus(spark, state).collect()}
    clean_seen = (
        spark.read.parquet(f"{state}/sig_store").select("doc_id").distinct().count()
    )

    # replay batch 1 with mutated partition order (what a retried task
    # set looks like), then batch 2 again on top
    ingest_increment(
        spark, batches[1].repartition(7), state, threshold=THRESH, batch_id=1
    )
    ingest_increment(spark, batches[2], state, threshold=THRESH, batch_id=2)

    got = {r.doc_id for r in read_corpus(spark, state).collect()}
    seen = (
        spark.read.parquet(f"{state}/sig_store").select("doc_id").distinct().count()
    )
    assert got == clean == _batch_recompute_survivors(corpus)
    assert seen == clean_seen == corpus.count()
    # no duplicate rows either (append-mode replay would double batch 1)
    assert read_corpus(spark, state).count() == len(got)


def test_ingest_crash_between_writes_replays_clean(spark, corpus, tmp_path):
    """The corpus write is the commit: after a crash between the
    signature write and the corpus write of batch 1, both a replay with
    batch_id=1 and a direct call with batch_id=None re-ingest it as
    batch 1 over the orphan signatures, and the corpus equals a clean
    run."""
    import os
    import shutil

    from firmable_aus_etl_spark.streaming.incremental import read_corpus

    batches = _batches(corpus)
    clean = str(tmp_path / "clean")
    clean_stats = [
        ingest_increment(spark, b, clean, threshold=THRESH) for b in batches[:2]
    ]
    want = sorted(r.doc_id for r in read_corpus(spark, clean).collect())

    for name, batch_id in (("replay", 1), ("direct", None)):
        state = str(tmp_path / name)
        shutil.copytree(clean, state)
        shutil.rmtree(os.path.join(state, "corpus", "batch=1"))
        assert os.path.isdir(os.path.join(state, "sig_store", "batch=1"))
        stats = ingest_increment(
            spark, batches[1], state, threshold=THRESH, batch_id=batch_id
        )
        assert stats == clean_stats[1]
        got = [r.doc_id for r in read_corpus(spark, state).collect()]
        assert len(got) == len(set(got))
        assert sorted(got) == want


def test_ingest_leaves_no_persisted_rdd(spark, corpus, tmp_path):
    """An ingest releases everything it computes: no persisted RDD is
    left for the ContextCleaner to reclaim later."""
    state = str(tmp_path / "state")
    batches = _batches(corpus)
    ingest_increment(spark, batches[0], state, threshold=THRESH)
    # compare RDD ids, not map sizes: the context keeps persisted RDDs
    # as weak values, so a JVM GC during the call can drop entries
    # that earlier tests left and shrink the map
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    ingest_increment(spark, batches[1], state, threshold=THRESH)
    assert not set(jsc.getPersistentRDDs().keySet()) - before


def test_agg_view_reader_skips_incomplete_version(spark, tmp_path):
    """A vN dir without _SUCCESS (crashed/in-flight write) must not be
    served as the latest view."""
    import os

    from firmable_aus_etl_spark.streaming.incremental import (
        _latest_version,
        read_agg_view,
    )

    state = str(tmp_path / "aggstate")
    df = spark.createDataFrame([("a", 1, 1.0)], "k string, cnt long, total double")
    df.write.parquet(f"{state}/v0")
    df.write.parquet(f"{state}/v1")
    os.remove(f"{state}/v1/_SUCCESS")  # simulate crash mid-commit
    assert _latest_version(state) == 0
    assert read_agg_view(spark, state).count() == 1


def test_incremental_agg_view_equals_batch_agg(spark, tmp_path):
    import time

    from firmable_aus_etl_spark.streaming.incremental import (
        incremental_agg_stream,
        read_agg_view,
    )

    ev = load_table(spark, SF, "events").select("user_id", "event_type", "value")
    src = str(tmp_path / "src")
    n = ev.count()
    third = n // 3
    rows = ev.collect()
    for part in (rows[:third], rows[third : 2 * third], rows[2 * third :]):
        spark.createDataFrame(part, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)

    state = str(tmp_path / "aggstate")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_agg_stream(
        stream, state, keys=["user_id", "event_type"], value_col="value",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.event_type): (r.cnt, round(r.total, 6))
        for r in read_agg_view(spark, state).collect()
    }
    want = {
        (r.user_id, r.event_type): (r.cnt, round(r.total, 6))
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want

    # replay idempotence: re-deriving the last version from its parent
    # (what a foreachBatch retry does) leaves the view unchanged
    from firmable_aus_etl_spark.streaming.incremental import _latest_version

    assert _latest_version(state) == 2


# ---------------------------------------------------------------------------
# Embedding-ingest sibling: cross-batch vector dedup
# ---------------------------------------------------------------------------

VDIM = 16
VTHRESH = 0.99


def _lcg_vec(state):
    vec = []
    for _ in range(VDIM):
        state = (state * 1103515245 + 12345) % (1 << 31)
        vec.append(state / float(1 << 31) - 0.5)
    return state, vec


@pytest.fixture()
def vec_corpus(spark):
    """60 well-separated vectors + planted cross-batch near-dup chains:
    1001 ~ 0 (batch 2), 2001 ~ 1001 (batch 3, chain through a DROPPED
    vector), 2002 ~ 1 (batch 3)."""
    state, rows = 7, []
    base = {}
    for i in range(60):
        state, vec = _lcg_vec(state)
        base[i] = vec
        rows.append((i, vec))
    rows.append((1001, [x + 1e-4 for x in base[0]]))
    rows.append((2001, [x + 2e-4 for x in base[0]]))  # ~1001 and ~0
    rows.append((2002, [x - 1e-4 for x in base[1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _vec_batches(corpus):
    return [
        corpus.filter(F.col("vec_id") < 30),
        corpus.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 2000)),
        corpus.filter(F.col("vec_id") >= 2000),
    ]


def _vec_recompute_survivors(corpus):
    """Pair-min over the FULL vector set: drop any vector with a
    verified near-dup of smaller id (pairs include dropped-vector
    chains, same invariant as the text path)."""
    from firmable_aus_etl_spark.functions.vectors import cosine_near_dup_pairs

    pairs = cosine_near_dup_pairs(
        corpus, dim=VDIM, threshold=VTHRESH, n_planes=4, n_tables=8, seed=3
    )
    dropped = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    return {
        r.vec_id
        for r in corpus.select("vec_id").join(dropped, "vec_id", "left_anti").collect()
    }


def _vec_ingest(spark, b, state, batch_id=None):
    from firmable_aus_etl_spark.streaming.incremental import (
        ingest_embeddings_increment,
    )

    return ingest_embeddings_increment(
        spark, b, state,
        dim=VDIM, threshold=VTHRESH, n_planes=4, n_tables=8, seed=3,
        batch_id=batch_id,
    )


def test_vec_incremental_equals_batch_recompute(spark, vec_corpus, tmp_path):
    state = str(tmp_path / "vstate")
    stats = [_vec_ingest(spark, b, state) for b in _vec_batches(vec_corpus)]
    got = {r.vec_id for r in spark.read.parquet(f"{state}/vectors").collect()}
    want = _vec_recompute_survivors(vec_corpus)
    assert got == want
    assert 1001 not in got and 2001 not in got and 2002 not in got
    assert sum(s["dropped"] for s in stats) == vec_corpus.count() - len(want)
    # chain memory: 2001 is a near-dup of DROPPED 1001; the signature
    # store must still catch it
    assert stats[2]["dropped"] >= 2


def test_vec_signature_store_remembers_dropped(spark, vec_corpus, tmp_path):
    state = str(tmp_path / "vstate")
    for b in _vec_batches(vec_corpus):
        _vec_ingest(spark, b, state)
    seen = (
        spark.read.parquet(f"{state}/vec_sigs").select("vec_id").distinct().count()
    )
    assert seen == vec_corpus.count()
    assert spark.read.parquet(f"{state}/vectors").count() < seen


def test_vec_ingest_replay_is_idempotent(spark, vec_corpus, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import read_vector_corpus

    state = str(tmp_path / "vstate")
    batches = _vec_batches(vec_corpus)
    for i, b in enumerate(batches):
        _vec_ingest(spark, b, state, batch_id=i)
    clean = {r.vec_id for r in read_vector_corpus(spark, state).collect()}

    _vec_ingest(spark, batches[1].repartition(5), state, batch_id=1)
    _vec_ingest(spark, batches[2], state, batch_id=2)

    got = {r.vec_id for r in read_vector_corpus(spark, state).collect()}
    assert got == clean == _vec_recompute_survivors(vec_corpus)
    assert read_vector_corpus(spark, state).count() == len(got)


def test_vec_streaming_wrapper_drives_same_state(spark, vec_corpus, tmp_path):
    import time

    from firmable_aus_etl_spark.streaming.incremental import (
        ingest_embeddings_stream,
    )

    src = str(tmp_path / "vsrc")
    for b in _vec_batches(vec_corpus):
        b.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    state = str(tmp_path / "vstate_stream")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest_embeddings_stream(
        stream, state, checkpoint=str(tmp_path / "vckpt"),
        dim=VDIM, threshold=VTHRESH, n_planes=4, n_tables=8, seed=3,
    )
    q.awaitTermination(180)
    got = {r.vec_id for r in spark.read.parquet(f"{state}/vectors").collect()}
    assert got == _vec_recompute_survivors(vec_corpus)


def test_incremental_distinct_view_accuracy_and_merge(spark, tmp_path):
    """HLL-merged distinct counts across micro-batches must track the
    exact distinct within sketch error, including keys whose values
    REPEAT across batches (union, not sum)."""
    import time

    from firmable_aus_etl_spark.streaming.incremental import (
        incremental_distinct_stream,
        read_distinct_view,
    )

    ev = load_table(spark, SF, "events").select("event_type", "user_id")
    src = str(tmp_path / "dsrc")
    # split by row hash so the same (type, user) pairs recur in
    # multiple batches — a sum-based merge would overcount
    for i in range(3):
        ev.filter(F.pmod(F.xxhash64("user_id") + i, F.lit(3)) != 0).coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)

    state = str(tmp_path / "dstate")
    q = incremental_distinct_stream(
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        state,
        keys=["event_type"],
        value_col="user_id",
        checkpoint=str(tmp_path / "dckpt"),
    )
    q.awaitTermination(180)

    got = {r.event_type: r.approx_distinct for r in read_distinct_view(spark, state).collect()}
    want = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= max(2, 0.05 * want[k]), (k, got[k], want[k])


# ---------------- incremental corpus report ----------------

def _report_docs(spark):
    from firmable_aus_etl_spark.datasets import load_table

    return load_table(spark, SF, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )


def _expected_report(docs):
    # one-shot recompute: same logic as the training_corpus_report query
    from pyspark.sql import Window

    from firmable_aus_etl_spark.functions.similarity import normalize_name

    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    f = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.md5(normalize_name(F.col("text"))).alias("fp"),
        bucket.alias("bucket"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    d = f.withColumn("is_dup", (F.row_number().over(w) > 1).cast("int"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("n_en"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum((F.col("bucket") < 204).cast("int")).cast("long").alias("n_train"),
        F.sum(((F.col("bucket") >= 204) & (F.col("bucket") < 230)).cast("int"))
        .cast("long").alias("n_val"),
        F.sum((F.col("bucket") >= 230).cast("int")).cast("long").alias("n_test"),
    )


def test_corpus_report_incremental_equals_recompute(spark, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import (
        corpus_report_increment,
        read_corpus_report,
    )

    docs = _report_docs(spark)
    # cross-batch exact dup: doc 600 repeats doc 3's text in batch 3
    dup_row = docs.filter(F.col("doc_id") == 3).select(
        F.lit(600).alias("doc_id"), "source", "lang", "n_chars", "text"
    )
    full = docs.unionByName(dup_row)
    batches = [
        full.filter(F.col("doc_id") < 150),
        full.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 350)),
        full.filter(F.col("doc_id") >= 350),
    ]
    state = str(tmp_path / "crstate")
    for i, b in enumerate(batches, start=1):
        corpus_report_increment(b, state, i)
    got = sorted(map(tuple, read_corpus_report(spark, state).collect()))
    want = sorted(map(tuple, _expected_report(full).collect()))
    assert got == want
    # the planted cross-batch dup is counted
    assert sum(r[2] for r in got) >= 1  # n_dup_docs column


def test_corpus_report_replay_idempotent(spark, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import (
        corpus_report_increment,
        read_corpus_report,
    )

    docs = _report_docs(spark)
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    state = str(tmp_path / "crstate2")
    corpus_report_increment(b1, state, 1)
    corpus_report_increment(b2, state, 2)
    clean = sorted(map(tuple, read_corpus_report(spark, state).collect()))
    # replay batch 2 with a different partition layout
    corpus_report_increment(b2.repartition(5), state, 2)
    replayed = sorted(map(tuple, read_corpus_report(spark, state).collect()))
    assert replayed == clean


def test_corpus_report_stream_drives_same_state(spark, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import (
        corpus_report_stream,
        read_corpus_report,
    )

    docs = _report_docs(spark)
    src = str(tmp_path / "crsrc")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = corpus_report_stream(
        stream, str(tmp_path / "crstream"), checkpoint=str(tmp_path / "crckpt")
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, read_corpus_report(spark, str(tmp_path / "crstream")).collect())
    )
    want = sorted(map(tuple, _expected_report(docs).collect()))
    assert got == want


# ---------------- incremental join view ----------------

def _jv_fact(spark, rows):
    return spark.createDataFrame(rows, "o_id long, c_id long, amount long")


def _jv_dim(spark, rows):
    return spark.createDataFrame(rows, "c_id long, segment string")


def test_join_view_incremental_equals_recompute(spark, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import (
        join_view_increment,
        read_join_view,
    )

    state = str(tmp_path / "jv")
    f1 = _jv_fact(spark, [(1, 10, 100), (2, 11, 200), (3, 99, 300)])  # 99 unknown
    d1 = _jv_dim(spark, [(10, "A"), (11, "B")])
    join_view_increment(state, 1, spark=spark, fact=f1, dim_delta=d1,
                        fact_key="o_id", dim_key="c_id")
    f2 = _jv_fact(spark, [(4, 10, 400)])
    d2 = _jv_dim(spark, [(10, "A2"), (99, "C")])  # changes 10, adds 99 late
    join_view_increment(state, 2, spark=spark, fact=f2, dim_delta=d2,
                        fact_key="o_id", dim_key="c_id")
    f3 = _jv_fact(spark, [(5, 99, 500), (6, 12, 600)])  # 12 never arrives
    join_view_increment(state, 3, spark=spark, fact=f3,
                        fact_key="o_id", dim_key="c_id")

    got = sorted(map(tuple, read_join_view(spark, state)
                 .select("o_id", "c_id", "amount", "segment").collect()))
    all_facts = f1.unionByName(f2).unionByName(f3)
    final_dim = _jv_dim(spark, [(10, "A2"), (11, "B"), (99, "C")])
    want = sorted(map(tuple, all_facts.join(final_dim, "c_id", "left")
                  .select("o_id", "c_id", "amount", "segment").collect()))
    assert got == want
    # the late dimension upgraded batch-1's null-enriched row
    assert ( [r for r in got if r[0] == 3][0][3] ) == "C"


def test_join_view_replay_idempotent(spark, tmp_path):
    from firmable_aus_etl_spark.streaming.incremental import (
        join_view_increment,
        read_join_view,
    )

    state = str(tmp_path / "jv2")
    f1 = _jv_fact(spark, [(1, 10, 100), (2, 11, 200)])
    d1 = _jv_dim(spark, [(10, "A"), (11, "B")])
    join_view_increment(state, 1, spark=spark, fact=f1, dim_delta=d1,
                        fact_key="o_id", dim_key="c_id")
    f2 = _jv_fact(spark, [(3, 10, 300)])
    d2 = _jv_dim(spark, [(11, "B2")])
    join_view_increment(state, 2, spark=spark, fact=f2, dim_delta=d2,
                        fact_key="o_id", dim_key="c_id")
    clean = sorted(map(tuple, read_join_view(spark, state).collect()))
    join_view_increment(state, 2, spark=spark, fact=f2.repartition(4),
                        dim_delta=d2.repartition(3),
                        fact_key="o_id", dim_key="c_id")
    assert sorted(map(tuple, read_join_view(spark, state).collect())) == clean


def test_prune_versions_keeps_latest_complete(spark, tmp_path):
    import os

    from firmable_aus_etl_spark.streaming.incremental import (
        corpus_report_increment,
        prune_versions,
        read_corpus_report,
    )

    docs = _report_docs(spark)
    state = str(tmp_path / "prune")
    for i, hi in enumerate([100, 200, 300], start=1):
        corpus_report_increment(
            docs.filter((F.col("doc_id") >= (hi - 100)) & (F.col("doc_id") < hi)),
            state, i,
        )
    before = sorted(map(tuple, read_corpus_report(spark, state).collect()))
    root = os.path.join(state, "report")
    # plant an incomplete (crashed) version dir
    os.makedirs(os.path.join(root, "v9"))
    removed = prune_versions(root, keep=2)
    assert removed == [1, 9]
    assert sorted(map(tuple, read_corpus_report(spark, state).collect())) == before


# --- incrementally-maintained span-dedup view -----------------------------


def _span_recompute(spark, rows):
    from firmable_aus_etl_spark.operators.dedup import remove_repeated_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(
        map(tuple, remove_repeated_spans(df, "doc_id", "text", n=8, min_docs=3).collect())
    )


def test_span_view_equals_recompute_per_batch(spark, tmp_path):
    """After every batch, the incremental view equals the one-shot
    operator over the union of all batches — including the batch where
    a shared span CROSSES the min_docs threshold and historical docs
    must be re-cleaned."""
    from firmable_aus_etl_spark.streaming.incremental import (
        read_span_view,
        span_view_increment,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        [(1, f"{span} one unique"),
         (2, "noise words only here nothing shared at all")],
        [(3, f"start pad {span}")],          # 2 docs hold the span: below threshold
        [(4, f"{span} tail bits"),           # 3rd holder: crosses -> docs 1,3 re-cleaned
         (5, "another unrelated document entirely")],
    ]
    state = str(tmp_path / "spanstate")
    seen: list = []
    views = []
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        span_view_increment(df, state, i, n=8, min_docs=3)
        seen += rows
        got = sorted(map(tuple, read_span_view(spark, state).collect()))
        assert got == _span_recompute(spark, seen), f"batch {i}"
        views.append(got)
    # the threshold-crossing batch actually removed the span everywhere
    final = {r[0]: r for r in views[-1]}
    assert final[1] == (1, "one unique", 10)
    assert final[3] == (3, "start pad", 10)
    assert final[4] == (4, "tail bits", 10)
    assert final[2][2] == 0 and final[5][2] == 0
    # and before the crossing nothing was removed
    assert all(r[2] == 0 for r in views[1])


def test_span_view_replay_idempotent(spark, tmp_path):
    """At-least-once replay of the last batch leaves the view
    byte-identical (batch-keyed stores overwrite; versioned stores
    rebuild from the parent, not from their own previous write)."""
    from firmable_aus_etl_spark.streaming.incremental import (
        read_span_view,
        span_view_increment,
    )

    span = "one two three four five six seven eight nine ten"
    batches = [
        [(1, f"{span} aa"), (2, f"bb {span}")],
        [(3, f"cc {span} dd")],
    ]
    state = str(tmp_path / "spanstate2")
    for i, rows in enumerate(batches):
        span_view_increment(
            spark.createDataFrame(rows, "doc_id long, text string"),
            state, i, n=8, min_docs=3,
        )
    before = sorted(map(tuple, read_span_view(spark, state).collect()))
    span_view_increment(  # replay batch 1
        spark.createDataFrame(batches[1], "doc_id long, text string"),
        state, 1, n=8, min_docs=3,
    )
    after = sorted(map(tuple, read_span_view(spark, state).collect()))
    assert after == before
    assert before == _span_recompute(spark, batches[0] + batches[1])


def test_incremental_portable_distinct_equals_batch_exactly(spark, tmp_path):
    """The portable-register twin's promise is STRONGER than the
    binary-sketch view's: after any number of micro-batches the state
    frame equals the from-scratch register frame row-for-row, so the
    streaming estimate is bit-identical to the oracle-gated batch
    estimator — not merely within sketch error."""
    import time

    from firmable_aus_etl_spark.operators.cardinality import hll_distinct
    from firmable_aus_etl_spark.streaming.incremental import (
        incremental_portable_distinct_stream,
        read_portable_distinct_view,
    )

    ev = load_table(spark, SF, "events").select("event_type", "user_id")
    src = str(tmp_path / "pdsrc")
    # overlapping batches: same (type, user) pairs recur, so a
    # sum-based or append-based merge would drift
    for i in range(3):
        ev.filter(F.pmod(F.xxhash64("user_id") + i, F.lit(3)) != 0).coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)

    state = str(tmp_path / "pdstate")
    q = incremental_portable_distinct_stream(
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        state,
        keys=["event_type"],
        value_col="user_id",
        checkpoint=str(tmp_path / "pdckpt"),
    )
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in read_portable_distinct_view(spark, state).collect()
    )
    want = sorted(
        tuple(r)
        for r in hll_distinct(ev, ["event_type"], "user_id").collect()
    )
    assert got == want
