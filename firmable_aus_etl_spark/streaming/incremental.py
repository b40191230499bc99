"""Incremental corpus ingestion with cross-batch near-dup filtering —
the production shape of the 100 TB dedup pipeline: new documents
arrive continuously and must dedup against everything already seen
WITHOUT recomputing the historical pair graph.

Design invariant that makes incremental == from-scratch: the
signature store remembers EVERY document ever seen (survivor or not),
because a new doc can be a near-dup of a doc that was itself dropped —
pruning dropped docs from the comparison set would let chains leak
through (d ~ dropped_h ~ kept_h0, d !~ h0). Signatures are cheap
(band keys + hashed shingle array, ~10-100x smaller than text); the
corpus table keeps full rows for survivors only. Dedup semantics are
"pair-min": a doc is dropped iff it has a verified near-dup with ANY
smaller-id seen doc.

Equality with the from-scratch batch recompute additionally requires
that doc ids arrive monotonically non-decreasing across batches (ids
assigned at ingest time — the production norm). If a LATER batch could
deliver an id SMALLER than an already-committed near-dup survivor, the
full recompute would drop the committed larger-id doc while the
incremental path keeps both (committed survivors are never revoked).
Under the monotone-arrival precondition the result provably equals the
batch recompute over the full corpus (tested both ways in
tests/test_incremental.py).

At scale: the signature store is written bucketed by band hash, so the
new-batch x history candidate join is bucket-pruned instead of
scanning all history; the verify step touches only colliding pairs.
reference analog: the UPSERT loaders' incremental "only changed rows"
semantics (loadingcsv_topostgre_fast.py:62-76) lifted to
similarity-level identity.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from firmable_aus_etl_spark.operators.dedup import shingle_frame
from firmable_aus_etl_spark.operators.partitioning import local_frame

BANDS = 16
NUM_HASHES = 32


def _batch_dirs(path: str) -> list[tuple[int, str]]:
    """Sorted (batch_id, dir) for every committed ``batch=N`` subdir."""
    out = []
    for d in glob.glob(os.path.join(path, "batch=*")):
        m = re.fullmatch(r"batch=(\d+)", os.path.basename(d))
        if m:
            out.append((int(m.group(1)), d))
    return sorted(out)


def _signature_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, __h hashed-shingle array, band, band_hash) — one row
    per band per doc; __h carried for exact Jaccard verification."""
    from firmable_aus_etl_spark.operators.dedup import minhash_signature_from

    rows_per_band = NUM_HASHES // BANDS
    sh = shingle_frame(docs, id_col, text_col)
    sig = sh.select(
        "__id",
        F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__h"),
        minhash_signature_from(F.col("__sh"), num_hashes=NUM_HASHES).alias("__sig"),
    )

    def band_key(b: int):
        elems = [
            F.col("__sig")[i]
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        return F.xxhash64(*elems).cast("string")

    return sig.select(
        F.col("__id").alias("doc_id"),
        "__h",
        F.posexplode(F.array(*[band_key(b) for b in range(BANDS)])).alias(
            "band", "band_hash"
        ),
    )


def _verified_drops(
    new_sigs: DataFrame, seen_sigs: DataFrame, threshold: float
) -> DataFrame:
    """doc_ids from new_sigs with a verified near-dup among seen_sigs
    (any smaller id) or earlier new docs — the pair-min drop set."""
    cand_pool = seen_sigs.unionByName(new_sigs)
    cand = (
        new_sigs.alias("n")
        .join(
            cand_pool.alias("p"),
            on=[
                F.col("n.band") == F.col("p.band"),
                F.col("n.band_hash") == F.col("p.band_hash"),
                F.col("p.doc_id") < F.col("n.doc_id"),
            ],
        )
        .select(
            F.col("n.doc_id").alias("b_id"),
            F.col("p.doc_id").alias("a_id"),
        )
        .distinct()
    )
    # one row per doc: every doc has exactly one band-0 row carrying its
    # __h (posexplode of a fixed BANDS-wide array) — a distinct over
    # (doc_id, __h) would hash-aggregate every shingle-hash array
    ha = cand_pool.filter(F.col("band") == 0).select(
        F.col("doc_id").alias("a_id"), F.col("__h").alias("__h_a")
    )
    hb = new_sigs.filter(F.col("band") == 0).select(
        F.col("doc_id").alias("b_id"), F.col("__h").alias("__h_b")
    )
    inter = F.size(F.array_intersect(F.col("__h_a"), F.col("__h_b"))).cast("double")
    union = (F.size("__h_a") + F.size("__h_b")).cast("double") - inter
    verified = (
        cand.join(ha, "a_id")
        .join(hb, "b_id")
        .withColumn("j", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("j") >= threshold)
    )
    # every b_id is a new_sigs doc: no filter back onto the batch needed
    return verified.select(F.col("b_id").alias("doc_id")).distinct()


def _next_batch_id(corpus_path: str) -> int:
    """Next free batch id, from the COMMITTED corpus dirs: the corpus
    write is the last write of an ingest, so a signature dir without
    its corpus dir is an orphan of a crashed ingest and its id is
    reused (overwritten) by the next call."""
    committed = _batch_dirs(corpus_path)
    return committed[-1][0] + 1 if committed else 0


def _stage_signatures(
    spark: SparkSession, sigs: DataFrame, sig_path: str, batch_id: int
) -> tuple[DataFrame, DataFrame]:
    """Write the batch's signatures to ``sig_path/batch=N`` (overwrite)
    and read them back, so the signature map runs once for the write
    and every branch of the verify plan. Returns (new_sigs, seen_sigs):
    seen_sigs is every OTHER batch dir, so a replay never matches its
    own earlier write."""
    history_dirs = [d for i, d in _batch_dirs(sig_path) if i != batch_id]
    sig_dir = os.path.join(sig_path, f"batch={batch_id}")
    sigs.write.mode("overwrite").parquet(sig_dir)
    new_sigs = spark.read.parquet(sig_dir)
    if history_dirs:
        seen_sigs = spark.read.parquet(*history_dirs)
    else:
        seen_sigs = local_frame(spark, [], new_sigs.schema)
    return new_sigs, seen_sigs


def _commit_survivors(
    spark: SparkSession,
    batch: DataFrame,
    id_col: str,
    drops: DataFrame,
    corpus_dir: str,
) -> tuple[int, int]:
    """Run the drop plan once: collect the dropped ids (bounded by the
    batch size), left-anti the batch against them as a local relation
    — so the survivor write re-derives nothing — and write the
    survivors to ``corpus_dir``, the ingest's commit. Left-anti, not
    ``~isin``: null-id rows survive, as they match no dropped id.
    Returns (batch rows, dropped rows)."""
    ids = [tuple(r) for r in drops.collect()]
    dropped = local_frame(spark, ids, batch.select(id_col).schema)
    survivors = batch.join(dropped, id_col, "left_anti")
    survivors.write.mode("overwrite").parquet(corpus_dir)
    return batch.count(), len(ids)


def ingest_increment(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    batch_id: int | None = None,
) -> dict:
    """Process one batch of documents against the state under
    ``state_dir`` (parquet: sig_store/ all-seen signatures, corpus/
    surviving rows). Returns counts. Callable directly (tests, batch
    backfills) or from foreachBatch (ingest_stream).

    Write order: the batch's signatures go to ``sig_store/batch=N``
    first and are read back for the candidate join and verification
    (the shingle/MinHash map runs once); the surviving rows go to
    ``corpus/batch=N`` last — that write is the commit.

    Replay idempotence: each batch writes its survivors/signatures into
    its own ``batch=N`` subdirectory with mode overwrite, and the
    history read EXCLUDES that subdirectory — so a micro-batch retried
    after a completed or partial write (at-least-once foreachBatch
    replay, before checkpoint commit) re-derives the same state instead
    of appending duplicates. Direct callers may omit ``batch_id``; the
    next id after the newest committed ``corpus/batch=N`` is assigned,
    so a call after a crash between the two writes reuses (overwrites)
    the orphan ``sig_store/batch=N``."""
    sig_path = os.path.join(state_dir, "sig_store")
    corpus_path = os.path.join(state_dir, "corpus")

    if batch_id is None:
        batch_id = _next_batch_id(corpus_path)
    # every seen doc's signature is remembered, survivor or not
    new_sigs, seen_sigs = _stage_signatures(
        spark, _signature_frame(batch, id_col, text_col), sig_path, batch_id
    )

    drops = _verified_drops(new_sigs, seen_sigs, threshold)
    n_batch, n_dropped = _commit_survivors(
        spark, batch, id_col, drops,
        os.path.join(corpus_path, f"batch={batch_id}"),
    )
    return {
        "batch_docs": n_batch,
        "dropped": n_dropped,
        "appended": n_batch - n_dropped,
        "batch_id": batch_id,
    }


def read_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """Surviving corpus rows across all committed ingest batches."""
    dirs = [d for _, d in _batch_dirs(os.path.join(state_dir, "corpus"))]
    if not dirs:
        raise FileNotFoundError(f"no ingested batches under {state_dir}")
    return spark.read.parquet(*dirs)


def ingest_stream(
    stream: DataFrame,
    state_dir: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
):
    """Structured Streaming wrapper: each micro-batch runs one
    ingest_increment against the shared state dir."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        ingest_increment(
            batch.sparkSession,
            batch,
            state_dir,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            batch_id=batch_id,
        )

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _latest_version(path: str) -> int | None:
    """Highest COMPLETE version: a vN dir counts only once its
    _SUCCESS marker exists, so a reader concurrent with a crashed or
    in-flight write falls back to the previous complete version."""
    vs = sorted(
        (
            int(m.group(1))
            for d in glob.glob(os.path.join(path, "v*"))
            if (m := re.fullmatch(r"v(\d+)", os.path.basename(d)))
        ),
        reverse=True,
    )
    for v in vs:
        if os.path.exists(os.path.join(path, f"v{v}", "_SUCCESS")):
            return v
    return None


def incremental_agg_stream(
    stream: DataFrame,
    state_dir: str,
    *,
    keys: list[str],
    value_col: str,
    checkpoint: str,
):
    """Incrementally-maintained materialized aggregate (count + sum
    per key) — the streaming-materialized-view pattern: each
    micro-batch contributes its partial aggregate, additively merged
    into the running table, so reading the view is O(keys) regardless
    of stream length and no batch is ever re-scanned.

    State versioning: batch N writes ``state_dir/vN`` derived from
    ``v(N-1)``; a retried batch overwrites its own version from the
    same parent — maintenance is idempotent under foreachBatch's
    at-least-once replay (the exactly-once trick normally supplied by
    Delta's txn log, here via batch-id-keyed directories). Readers
    take the highest complete version.
    """

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        part = batch.groupBy(*keys).agg(
            F.count("*").alias("cnt"), F.sum(value_col).alias("total")
        )
        # parent = newest version strictly below this batch id, so a
        # replayed batch re-derives from the same parent
        import glob
        import re

        parents = [
            v
            for d in glob.glob(os.path.join(state_dir, "v*"))
            if (m := re.fullmatch(r"v(\d+)", os.path.basename(d)))
            and (v := int(m.group(1))) < batch_id
            and os.path.exists(os.path.join(d, "_SUCCESS"))
        ]
        if parents:
            prev = spark.read.parquet(os.path.join(state_dir, f"v{max(parents)}"))
            merged = (
                prev.select(
                    *keys,
                    F.col("cnt").alias("p_cnt"),
                    F.col("total").alias("p_total"),
                )
                .join(part, keys, "full_outer")
                .select(
                    *keys,
                    (
                        F.coalesce("p_cnt", F.lit(0)) + F.coalesce("cnt", F.lit(0))
                    ).alias("cnt"),
                    (
                        F.coalesce("p_total", F.lit(0.0))
                        + F.coalesce("total", F.lit(0.0))
                    ).alias("total"),
                )
            )
        else:
            merged = part
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_agg_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest state of an incremental_agg_stream view."""
    v = _latest_version(state_dir)
    if v is None:
        raise FileNotFoundError(f"no versions under {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, f"v{v}"))


def _vector_signature_frame(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(vec_id, v, tbl, sig) — one row per LSH table per vector, the
    persisted signature-store schema (sign-LSH from seeded hyperplane
    literals, reproducible across runs)."""
    from firmable_aus_etl_spark.functions.vectors import lsh_signature_frame

    return lsh_signature_frame(
        vecs, dim=dim, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, n_tables=n_tables, seed=seed,
    ).select(
        F.col("__id").alias("vec_id"),
        F.col("__v").alias("v"),
        F.col("__tbl").alias("tbl"),
        F.col("__sig").alias("sig"),
    )


def ingest_embeddings_increment(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    batch_id: int | None = None,
) -> dict:
    """The embedding sibling of ingest_increment: new vectors arrive in
    batches and dedup (pair-min, cosine >= threshold) against every
    vector EVER seen — survivor or not, because a new vector can be a
    near-dup of a vector that was itself dropped (chain leakage,
    same invariant as the text path). Pair-min semantics require
    monotone id arrival for from-scratch equality (see module
    docstring).

    State layout mirrors the text ingest: ``vec_sigs/batch=N`` keeps
    (vec_id, v, tbl, sig) for all seen vectors; ``vectors/batch=N``
    keeps surviving input rows. Each batch overwrites its own
    ``batch=N`` subdirs and the history read excludes them — replay
    idempotent under foreachBatch's at-least-once semantics. Same
    write order (signatures first, ``vectors/batch=N`` last as the
    commit) and auto-``batch_id`` rule as ingest_increment.

    Scale: the new x history candidate join is an equi-join on
    (tbl, sig) buckets — history is never all-pairs scanned; exact
    cosine runs only on bucket-colliding candidates.

    A zero vector is never anyone's near-duplicate: zero-norm rows
    leave both candidate sides before the bucket join (every zero
    vector signs to the same bucket), but they are still stored and
    still survive — the rule cosine_near_dup_pairs applies.
    """
    from firmable_aus_etl_spark.functions.vectors import cosine, l2_norm

    sig_path = os.path.join(state_dir, "vec_sigs")
    corpus_path = os.path.join(state_dir, "vectors")

    if batch_id is None:
        batch_id = _next_batch_id(corpus_path)
    # every seen vector's signature is remembered, survivor or not
    sigs = _vector_signature_frame(
        batch, id_col, vec_col,
        dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed,
    )
    new_sigs, seen_sigs = _stage_signatures(spark, sigs, sig_path, batch_id)

    nonzero = l2_norm(F.col("v")) > 0
    pool = seen_sigs.unionByName(new_sigs).where(nonzero)
    cand = (
        new_sigs.where(nonzero).alias("n")
        .join(
            pool.alias("p"),
            on=[
                F.col("n.tbl") == F.col("p.tbl"),
                F.col("n.sig") == F.col("p.sig"),
                F.col("p.vec_id") < F.col("n.vec_id"),
            ],
        )
        .select(
            F.col("n.vec_id").alias("b_id"),
            F.col("n.v").alias("vb"),
            F.col("p.vec_id").alias("a_id"),
            F.col("p.v").alias("va"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    drops = (
        cand.withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("b_id")
        .distinct()
    )
    n_batch, n_dropped = _commit_survivors(
        spark, batch, id_col, drops,
        os.path.join(corpus_path, f"batch={batch_id}"),
    )
    return {
        "batch_vecs": n_batch,
        "dropped": n_dropped,
        "appended": n_batch - n_dropped,
        "batch_id": batch_id,
    }


def read_vector_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """Surviving vectors across all committed ingest batches."""
    dirs = [d for _, d in _batch_dirs(os.path.join(state_dir, "vectors"))]
    if not dirs:
        raise FileNotFoundError(f"no ingested vector batches under {state_dir}")
    return spark.read.parquet(*dirs)


def ingest_embeddings_stream(
    stream: DataFrame,
    state_dir: str,
    *,
    checkpoint: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
):
    """Structured Streaming wrapper: each micro-batch runs one
    ingest_embeddings_increment against the shared state dir."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        ingest_embeddings_increment(
            batch.sparkSession,
            batch,
            state_dir,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_planes=n_planes,
            n_tables=n_tables,
            seed=seed,
            batch_id=batch_id,
        )

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_distinct_stream(
    stream: DataFrame,
    state_dir: str,
    *,
    keys: list[str],
    value_col: str,
    checkpoint: str,
    lgk: int = 12,
):
    """Incrementally-maintained DISTINCT-count view via HLL sketch
    union — the mergeable answer to "distinct users per key over an
    unbounded stream": exact incremental distinct needs O(distinct)
    state per key; an HLL sketch is a fixed ~2^lgk-byte binary whose
    union is associative/commutative/idempotent-in-distribution, so
    each micro-batch contributes ``hll_sketch_agg`` partials and the
    view merges them with ``hll_union`` under the same
    batch-id-versioned scheme as incremental_agg_stream (replay
    re-derives from the same parent -> idempotent).

    Read with ``read_distinct_view``: hll_sketch_estimate per key
    (standard error ~1.04/sqrt(2^lgk): ~1.6% at the default lgk=12).
    """

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        part = batch.groupBy(*keys).agg(
            F.hll_sketch_agg(value_col, F.lit(lgk)).alias("sketch")
        )
        parents = [
            v
            for d in glob.glob(os.path.join(state_dir, "v*"))
            if (m := re.fullmatch(r"v(\d+)", os.path.basename(d)))
            and (v := int(m.group(1))) < batch_id
            and os.path.exists(os.path.join(d, "_SUCCESS"))
        ]
        if parents:
            prev = spark.read.parquet(os.path.join(state_dir, f"v{max(parents)}"))
            merged = (
                prev.select(*keys, F.col("sketch").alias("p_sketch"))
                .join(part, keys, "full_outer")
                .select(
                    *keys,
                    F.when(
                        F.col("p_sketch").isNull(), F.col("sketch")
                    )
                    .when(F.col("sketch").isNull(), F.col("p_sketch"))
                    .otherwise(
                        F.hll_union(F.col("p_sketch"), F.col("sketch"))
                    )
                    .alias("sketch"),
                )
            )
        else:
            merged = part
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_distinct_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest distinct-count estimates: one row per key with
    ``approx_distinct`` from the merged sketch."""
    df = read_agg_view(spark, state_dir)
    keys = [c for c in df.columns if c != "sketch"]
    return df.select(
        *keys, F.hll_sketch_estimate("sketch").alias("approx_distinct")
    )


def incremental_portable_distinct_stream(
    stream: DataFrame,
    state_dir: str,
    *,
    keys: list[str],
    value_col: str,
    checkpoint: str,
    b: int = 8,
):
    """The PORTABLE-register twin of incremental_distinct_stream:
    state is the operators/cardinality register FRAME
    (keys..., __bkt, __m) instead of Spark's engine-private
    hll_sketch binary — so the maintained state is (a) readable by any
    engine, (b) hash-comparable against the oracle-gated batch
    estimator, and (c) EXACTLY equal to the from-scratch register
    frame after any number of micro-batches (max-merge is lossless —
    proven in tests/test_cardinality.py), where the binary-sketch
    variant can only promise estimate-level agreement. Same
    batch-id-versioned parent scheme as incremental_agg_stream, so
    foreachBatch replays re-derive from the same parent and stay
    idempotent. <= 2^b rows per key regardless of stream volume."""
    from firmable_aus_etl_spark.operators.cardinality import (
        hll_merge_registers,
        hll_registers,
    )

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        part = hll_registers(batch, keys, value_col, b=b)
        parents = [
            v
            for d in glob.glob(os.path.join(state_dir, "v*"))
            if (m := re.fullmatch(r"v(\d+)", os.path.basename(d)))
            and (v := int(m.group(1))) < batch_id
            and os.path.exists(os.path.join(d, "_SUCCESS"))
        ]
        if parents:
            prev = spark.read.parquet(
                os.path.join(state_dir, f"v{max(parents)}")
            )
            merged = hll_merge_registers(prev, part, keys)
        else:
            merged = part
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_portable_distinct_view(
    spark: SparkSession, state_dir: str, *, b: int = 8
) -> DataFrame:
    """Latest portable-register distinct view: per-key estimate via
    the SAME estimator expression the oracle-gated batch queries use
    (cardinality.hll_estimate_from_registers) — streaming and batch
    answers are bit-identical, not merely close."""
    from firmable_aus_etl_spark.operators.cardinality import (
        hll_estimate_from_registers,
    )

    regs = read_agg_view(spark, state_dir)
    keys = [c for c in regs.columns if c not in ("__bkt", "__m")]
    return hll_estimate_from_registers(regs, keys, b=b)


# ------------------------------------------------------------------
# Incrementally-maintained corpus composition report
# ------------------------------------------------------------------

_REPORT_COUNTERS = [
    "n_docs", "n_dup_docs", "n_en", "total_chars", "n_train", "n_val", "n_test",
]


def corpus_report_increment(
    docs: DataFrame, state_dir: str, batch_id: int
) -> None:
    """Maintain the per-source corpus composition report (the
    training_corpus_report shape: volume, exact-dup docs, English
    share, split sizes) incrementally: each batch contributes an
    additive partial, and exact-duplicate detection compares the
    batch's fingerprints against an append-only fp store of EVERYTHING
    seen in earlier batches — no historical text is re-scanned.

    State layout (both keyed by batch id, so at-least-once replay
    overwrites rather than double-counts — the incremental_agg_stream
    scheme):
      state_dir/fp/batch=N   fingerprints first seen in batch N
      state_dir/report/vN    report after batch N (from v(parent))

    Equality with the one-shot batch recompute holds under the same
    monotone-doc_id arrival precondition as ingest_increment (dup =
    non-first fp occurrence in doc_id order; ids assigned at ingest).
    """
    from firmable_aus_etl_spark.functions.similarity import normalize_name
    from pyspark.sql import Window

    spark = docs.sparkSession
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    f = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.md5(normalize_name(F.col("text"))).alias("fp"),
        bucket.alias("bucket"),
    )
    # history = fp dirs from STRICTLY EARLIER batches (a replayed batch
    # must not collide with its own previous write)
    fp_root = os.path.join(state_dir, "fp")
    hist_dirs = [d for b, d in _batch_dirs(fp_root) if b < batch_id]
    if hist_dirs:
        hist = spark.read.parquet(*hist_dirs).select("fp").distinct()
        f = f.join(
            hist.select(F.col("fp"), F.lit(1).alias("__seen")), "fp", "left"
        )
    else:
        f = f.withColumn("__seen", F.lit(None).cast("int"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    d = f.withColumn(
        "is_dup",
        (
            F.col("__seen").isNotNull() | (F.row_number().over(w) > 1)
        ).cast("int"),
    )
    part = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("n_en"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum((F.col("bucket") < 204).cast("int")).cast("long").alias("n_train"),
        F.sum(((F.col("bucket") >= 204) & (F.col("bucket") < 230)).cast("int"))
        .cast("long").alias("n_val"),
        F.sum((F.col("bucket") >= 230).cast("int")).cast("long").alias("n_test"),
    )
    report_root = os.path.join(state_dir, "report")
    parents = []
    for dd in glob.glob(os.path.join(report_root, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(dd))
        if m and int(m.group(1)) < batch_id and os.path.exists(
            os.path.join(dd, "_SUCCESS")
        ):
            parents.append(int(m.group(1)))
    if parents:
        prev = spark.read.parquet(os.path.join(report_root, f"v{max(parents)}"))
        merged = prev.select(
            "source", *[F.col(c).alias(f"p_{c}") for c in _REPORT_COUNTERS]
        ).join(part, "source", "full_outer").select(
            "source",
            *[
                (
                    F.coalesce(f"p_{c}", F.lit(0)) + F.coalesce(c, F.lit(0))
                ).cast("long").alias(c)
                for c in _REPORT_COUNTERS
            ],
        )
    else:
        merged = part
    merged.write.mode("overwrite").parquet(
        os.path.join(report_root, f"v{batch_id}")
    )
    # new fingerprints only (first occurrence in this batch), so the
    # store stays deduplicated across batches
    d.filter(F.col("is_dup") == 0).select("fp").write.mode("overwrite").parquet(
        os.path.join(fp_root, f"batch={batch_id}")
    )


def corpus_report_stream(
    stream: DataFrame, state_dir: str, *, checkpoint: str
):
    """Structured Streaming wrapper: one corpus_report_increment per
    micro-batch (foreachBatch, availableNow)."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        corpus_report_increment(batch, state_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_corpus_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest complete version of the incremental corpus report."""
    root = os.path.join(state_dir, "report")
    v = _latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no versions under {root}")
    return spark.read.parquet(os.path.join(root, f"v{v}"))


# ------------------------------------------------------------------
# Incrementally-maintained JOIN view (delta propagation)
# ------------------------------------------------------------------

def join_view_increment(
    state_dir: str,
    batch_id: int,
    *,
    spark: SparkSession,
    fact: DataFrame | None = None,
    dim_delta: DataFrame | None = None,
    fact_key: str,
    dim_key: str,
) -> None:
    """Maintain an enriched fact ⋈ dim view incrementally — the
    materialized-view delta-propagation algorithm (ΔV = ΔF ⋈ D  ∪
    F ⋈ ΔD) on versioned parquet state:

      state_dir/fact/batch=N   fact rows first seen in batch N
      state_dir/dim/vN         dim snapshot after batch N (merge-upsert)
      state_dir/view/vN        enriched view after batch N

    Per batch: dim deltas merge into the snapshot FIRST and re-enrich
    only the accumulated fact rows whose ``dim_key`` changed (join
    against the delta, not the full dim); new fact rows then enrich
    against the updated snapshot. The new view version = previous view
    minus affected-key rows, plus both enrichment outputs — so view
    maintenance cost is O(|ΔF| + |F_affected|), never a full rejoin.
    All three stores are batch/version-keyed, so at-least-once replay
    overwrites instead of double-applying (the scheme every
    incremental family here shares). Unmatched fact rows keep null dim
    columns (left join), and a later dim arrival upgrades them — the
    late-dimension case the test exercises.

    Equals the one-shot ``all_facts LEFT JOIN final_dim`` recompute by
    induction: each version re-derives exactly the rows whose inputs
    changed.
    """
    from firmable_aus_etl_spark.operators.joins import merge_upsert

    fact_root = os.path.join(state_dir, "fact")
    dim_root = os.path.join(state_dir, "dim")
    view_root = os.path.join(state_dir, "view")

    def _parent(root: str) -> int | None:
        best = None
        for dd in glob.glob(os.path.join(root, "v*")):
            m = re.fullmatch(r"v(\d+)", os.path.basename(dd))
            if m and int(m.group(1)) < batch_id and os.path.exists(
                os.path.join(dd, "_SUCCESS")
            ):
                best = max(best or -1, int(m.group(1)))
        return best

    # 1. dim snapshot: merge the delta over the parent snapshot
    pv = _parent(dim_root)
    prev_dim = (
        spark.read.parquet(os.path.join(dim_root, f"v{pv}"))
        if pv is not None
        else None
    )
    if dim_delta is not None and prev_dim is not None:
        new_dim = merge_upsert(prev_dim, dim_delta, [dim_key])
    elif dim_delta is not None:
        new_dim = dim_delta
    elif prev_dim is not None:
        new_dim = prev_dim
    else:
        raise ValueError("first batch needs a dim_delta snapshot")
    new_dim.write.mode("overwrite").parquet(os.path.join(dim_root, f"v{batch_id}"))
    new_dim = spark.read.parquet(os.path.join(dim_root, f"v{batch_id}"))

    # 2. previous view + accumulated fact (earlier batches only)
    hist_fact_dirs = [d for b, d in _batch_dirs(fact_root) if b < batch_id]
    pv_view = _parent(view_root)
    prev_view = (
        spark.read.parquet(os.path.join(view_root, f"v{pv_view}"))
        if pv_view is not None
        else None
    )

    pieces = []
    if prev_view is not None:
        if dim_delta is not None and hist_fact_dirs:
            changed = dim_delta.select(dim_key).distinct()
            kept = prev_view.join(changed, dim_key, "left_anti")
            affected = (
                spark.read.parquet(*hist_fact_dirs)
                .join(changed, dim_key)
                .join(new_dim, dim_key, "left")
            )
            pieces.extend([kept, affected])
        else:
            pieces.append(prev_view)
    if fact is not None:
        pieces.append(fact.join(new_dim, dim_key, "left"))
        fact.write.mode("overwrite").parquet(
            os.path.join(fact_root, f"batch={batch_id}")
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    out.write.mode("overwrite").parquet(os.path.join(view_root, f"v{batch_id}"))


def read_join_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest complete version of an incrementally-maintained join view."""
    root = os.path.join(state_dir, "view")
    v = _latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no versions under {root}")
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def prune_versions(state_root: str, *, keep: int = 2) -> list[int]:
    """Retention for a versioned view directory (``state_root/vN``):
    delete all but the newest ``keep`` COMPLETE versions (incomplete
    versions — no _SUCCESS — are always deleted; they are failed
    writes). Readers pin the latest complete version, so keep >= 2
    gives an in-flight reader of v(N-1) a full grace period while vN
    lands. Returns the removed version numbers.

    The versioned stores grow one directory per batch by design (the
    replay-idempotence mechanism); this is the compaction half of that
    contract — run it from the maintenance cadence that also calls
    partitioning.compact_small_files."""
    import shutil

    complete, incomplete = [], []
    for d in glob.glob(os.path.join(state_root, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(d))
        if not m:
            continue
        (complete if os.path.exists(os.path.join(d, "_SUCCESS")) else incomplete).append(
            int(m.group(1))
        )
    doomed = sorted(complete)[:-keep] if keep else sorted(complete)
    removed = []
    for v in [*doomed, *incomplete]:
        shutil.rmtree(os.path.join(state_root, f"v{v}"), ignore_errors=True)
        removed.append(v)
    return sorted(removed)


# ------------------------------------------------------------------
# Incrementally-maintained SPAN-DEDUP view (threshold-crossing deltas)
# ------------------------------------------------------------------


def span_view_increment(
    docs: DataFrame,
    state_dir: str,
    batch_id: int,
    *,
    n: int = 8,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Maintain remove_repeated_spans' output incrementally: after any
    prefix of batches, read_span_view == the one-shot operator over
    the union of those batches (equality-with-recompute tested both
    ways; no monotone-id precondition — span coverage depends only on
    (doc tokens, global boilerplate set), never on id order. Each doc
    must arrive in exactly one batch, the partitioned-arrival norm).

    The delta insight: gram doc-counts only GROW under append-only
    ingest, so a historical doc's cleaned text changes iff it contains
    a gram that CROSSED the min_docs threshold in this batch. The
    increment therefore recomputes only (new docs) ∪ (historical docs
    holding a crossing gram) and carries every other view row forward
    untouched — no historical text is re-tokenized.

    State (batch-keyed stores overwrite on at-least-once replay;
    derived stores are versioned vN built from the latest complete
    parent < N, the incremental_agg_stream scheme):
      state_dir/toks/batch=N    (__id, __w) token arrays of batch N
      state_dir/starts/batch=N  (__id, i, g) gram start postings
      state_dir/counts/vN       (g, nd) cumulative distinct-doc counts
      state_dir/view/vN         (doc_id, cleaned, n_removed)

    At 100 TB: the starts store is the join target for crossing grams
    — lay it out bucketed by gram hash (partitioning.write_bucketed)
    so the affected-doc probe prunes to colliding buckets instead of
    scanning all history (same move as the ingest signature store).
    Crossing grams are few by nature (each gram crosses at most once,
    ever), so the probe side is always small.
    """
    from firmable_aus_etl_spark.operators.dedup import (
        span_rebuild,
        span_starts,
        span_tokens,
    )

    spark = docs.sparkSession
    toks_b = span_tokens(docs, id_col, text_col)
    starts_b = span_starts(toks_b, n=n)

    toks_root = os.path.join(state_dir, "toks")
    starts_root = os.path.join(state_dir, "starts")
    toks_b.write.mode("overwrite").parquet(
        os.path.join(toks_root, f"batch={batch_id}")
    )
    starts_b.write.mode("overwrite").parquet(
        os.path.join(starts_root, f"batch={batch_id}")
    )
    # read the batch stores back so every downstream branch scans
    # parquet instead of re-running the tokenize lineage per consumer
    toks_b = spark.read.parquet(os.path.join(toks_root, f"batch={batch_id}"))
    starts_b = spark.read.parquet(
        os.path.join(starts_root, f"batch={batch_id}")
    )

    batch_counts = starts_b.groupBy("g").agg(
        F.count_distinct("__id").alias("nd_b")
    )
    counts_root = os.path.join(state_dir, "counts")
    parent = None
    for d in glob.glob(os.path.join(counts_root, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(d))
        if m and int(m.group(1)) < batch_id and os.path.exists(
            os.path.join(d, "_SUCCESS")
        ):
            parent = max(parent or 0, int(m.group(1)))
    if parent is not None:
        prev = spark.read.parquet(os.path.join(counts_root, f"v{parent}"))
        merged = prev.select("g", F.col("nd").alias("nd_p")).join(
            batch_counts, "g", "full_outer"
        ).select(
            "g",
            (
                F.coalesce("nd_p", F.lit(0)) + F.coalesce("nd_b", F.lit(0))
            ).cast("long").alias("nd"),
            F.coalesce("nd_p", F.lit(0)).cast("long").alias("nd_prev"),
        )
    else:
        merged = batch_counts.select(
            "g", F.col("nd_b").cast("long").alias("nd"),
            F.lit(0).cast("long").alias("nd_prev"),
        )
    merged.select("g", "nd").write.mode("overwrite").parquet(
        os.path.join(counts_root, f"v{batch_id}")
    )
    merged = spark.read.parquet(
        os.path.join(counts_root, f"v{batch_id}")
    ).join(
        # nd_prev is recomputed from the parent on replay, not stored
        spark.read.parquet(os.path.join(counts_root, f"v{parent}")).select(
            "g", F.col("nd").alias("nd_prev")
        )
        if parent is not None
        else local_frame(spark, [], "g string, nd_prev long"),
        "g",
        "left",
    ).select("g", "nd", F.coalesce("nd_prev", F.lit(0)).alias("nd_prev"))

    boiler = merged.filter(F.col("nd") >= min_docs).select("g")
    crossing = merged.filter(
        (F.col("nd") >= min_docs) & (F.col("nd_prev") < min_docs)
    ).select("g")

    hist_start_dirs = [
        d for b, d in _batch_dirs(starts_root) if b < batch_id
    ]
    if hist_start_dirs:
        hist_starts = spark.read.parquet(*hist_start_dirs)
        affected_hist = (
            hist_starts.join(F.broadcast(crossing), "g")
            .select("__id")
            .distinct()
        )
        hist_toks_dirs = [
            d for b, d in _batch_dirs(toks_root) if b < batch_id
        ]
        toks_aff = spark.read.parquet(*hist_toks_dirs).join(
            affected_hist, "__id"
        )
        starts_aff = hist_starts.join(affected_hist, "__id")
        toks_all = toks_b.unionByName(toks_aff)
        starts_all = starts_b.unionByName(starts_aff)
    else:
        toks_all, starts_all = toks_b, starts_b

    dup_starts = starts_all.join(F.broadcast(boiler), "g").select(
        "__id", F.col("i").alias("p"), F.lit(1).alias("__dup")
    )
    rebuilt = span_rebuild(toks_all, dup_starts, n=n).select(
        F.col("__id").alias("doc_id"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )

    view_root = os.path.join(state_dir, "view")
    vparent = None
    for d in glob.glob(os.path.join(view_root, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(d))
        if m and int(m.group(1)) < batch_id and os.path.exists(
            os.path.join(d, "_SUCCESS")
        ):
            vparent = max(vparent or 0, int(m.group(1)))
    if vparent is not None:
        prev_view = spark.read.parquet(os.path.join(view_root, f"v{vparent}"))
        carried = prev_view.join(
            rebuilt.select("doc_id"), "doc_id", "left_anti"
        )
        out = carried.unionByName(rebuilt)
    else:
        out = rebuilt
    out.write.mode("overwrite").parquet(os.path.join(view_root, f"v{batch_id}"))


def read_span_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest complete version of the incremental span-dedup view."""
    root = os.path.join(state_dir, "view")
    v = _latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no versions under {root}")
    return spark.read.parquet(os.path.join(root, f"v{v}"))
