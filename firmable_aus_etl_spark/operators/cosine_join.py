"""Prefix-filtered exact cosine similarity join (AllPairs / Bayardo,
Roberto J. Bayardo, Yiming Ma, Ramakrishnan Srikant: "Scaling Up All
Pairs Similarity Search", WWW 2007) — the weighted-vector counterpart
of the Jaccard prefix filter in dedup.ngram_jaccard_pairs_prefix.

Why it scales: the naive sparse cosine join pairs every co-token
posting (|posting|^2 fan-out per token). The L2 suffix bound prunes
the index side to each vector's few HEAVY dimensions: for a unit
vector x split into head H and tail T (by descending weight),

    dot(x, y) <= dot_H(x, y) + ||x_T|| * ||y|| = dot_H(x, y) + ||x_T||

so if y shares no head token of x and ||x_T|| < t, then cos(x, y) < t
— any qualifying pair MUST collide on a head token. Candidates =
heavy(x) equi-join all(y) (both roles, union) is therefore lossless:
the oracle-checked query reuses the naive join's oracle verbatim as
its exactness proof. Fan-out drops from |posting|^2 to
|heavy_posting| * |posting| per token, and heavy postings shrink as
weights concentrate — the more skewed the corpus vocabulary, the
bigger the win (cf. SKEW.md for the Jaccard analog at 100 TB).

reference scope: op22 scale path (SURVEY §4 custom work #4);
entity_matching_optimized.py:122-191 is the single-node TF-IDF
original this replaces.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _heavy_terms(
    wt: DataFrame,
    *,
    id_col: str,
    token_col: str,
    weight_col: str,
    threshold: float,
    block_cols: Sequence[str],
) -> DataFrame:
    """Mark each vector's prefix (heavy head tokens): rows whose L2
    suffix still reaches the threshold. Compared on RAW weights
    (sfx >= t^2 * total <=> unit-space rev_cum >= t^2), so no per-token
    normalization join is needed — one shuffle+sort produces both
    window sums. estimate_cosine_plan replays the same marking on the
    driver."""
    ids = [id_col, *block_cols]
    w2 = F.col(weight_col) * F.col(weight_col)
    w_suffix = (
        Window.partitionBy(*ids)
        .orderBy(F.col(weight_col).desc(), F.col(token_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = Window.partitionBy(*ids)
    flagged = wt.withColumn("__sfx", F.sum(w2).over(w_suffix)).withColumn(
        "__tot", F.sum(w2).over(w_all)
    )
    return flagged.filter(F.col("__sfx") >= threshold * threshold * F.col("__tot"))


def cosine_prefix_join(
    wt: DataFrame,
    *,
    id_col: str,
    token_col: str,
    weight_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact cosine-threshold self-join of a sparse weighted term
    relation ``wt`` = (id, [blocks...], token, weight).

    Returns (a_id, b_id, dp, nrm_a, nrm_b) for every pair a_id < b_id
    (same block) with cosine = dp/(nrm_a*nrm_b) >= threshold. The dp
    is computed from the RAW weights over shared tokens — same
    accumulation the naive join does — so downstream rounding/tie
    logic is unchanged; the prefix bound only prunes candidates.
    """
    blocks = list(block_cols)

    nrm = wt.groupBy(id_col, *blocks).agg(
        F.sqrt(F.sum(F.col(weight_col) * F.col(weight_col))).alias("nrm")
    )
    heavy = _heavy_terms(
        wt,
        id_col=id_col,
        token_col=token_col,
        weight_col=weight_col,
        threshold=threshold,
        block_cols=blocks,
    )

    a_all = wt.select(
        F.col(id_col).alias("a_id"),
        *[F.col(c) for c in blocks],
        F.col(token_col).alias("t"),
        F.col(weight_col).alias("wa"),
    )
    b_all = wt.select(
        F.col(id_col).alias("b_id"),
        *[F.col(c) for c in blocks],
        F.col(token_col).alias("t"),
        F.col(weight_col).alias("wb"),
    )
    h = heavy.select(
        F.col(id_col).alias("h_id"),
        *[F.col(c) for c in blocks],
        F.col(token_col).alias("t"),
    )
    # heavy side in either role: a collision with x heavy OR y heavy
    # covers every qualifying pair (bound above); normalize to a<b
    cand = (
        h.join(b_all.select("b_id", *blocks, "t"), [*blocks, "t"])
        .filter(F.col("h_id") != F.col("b_id"))
        .select(
            F.least("h_id", "b_id").alias("a_id"),
            F.greatest("h_id", "b_id").alias("b_id"),
            *blocks,
        )
        .distinct()
    )
    # exact dot over shared tokens, restricted to candidates
    dots = (
        cand.join(a_all, ["a_id", *blocks])
        .join(b_all, ["b_id", *blocks, "t"])
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dp"))
    )
    na = nrm.select(F.col(id_col).alias("a_id"), F.col("nrm").alias("nrm_a"))
    nb = nrm.select(F.col(id_col).alias("b_id"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .filter(F.col("dp") / (F.col("nrm_a") * F.col("nrm_b")) >= threshold)
    )


def cosine_naive_join(
    wt: DataFrame,
    *,
    id_col: str,
    token_col: str,
    weight_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """The direct sparse inverted-index cosine join: one equi-join on
    (blocks, token) with a < b, dot-product group-by, norm join.
    Same output contract as cosine_prefix_join (a_id, b_id, dp,
    nrm_a, nrm_b). One pass over the pair-rows — optimal when the
    output is DENSE relative to the candidate space (template-heavy
    corpora where nearly every co-token pair qualifies, so prefix
    pruning cannot reduce work below the output and its extra
    distinct + re-join passes are pure overhead). The join still keys
    on (blocks, token), so parallelism scales with the vocabulary.

    ``id_col`` must be GLOBALLY unique (not merely unique per block):
    both exact plans group norms by (id, blocks) identically — so the
    plans can never diverge whichever estimate_cosine_plan picks — but
    the final norm attach joins on id alone, which would duplicate
    rows for an id repeated across blocks."""
    blocks = list(block_cols)
    nrm = wt.groupBy(id_col, *blocks).agg(
        F.sqrt(F.sum(F.col(weight_col) * F.col(weight_col))).alias("nrm")
    )
    a = wt.alias("a")
    b = wt.alias("b")
    cond = [F.col(f"a.{token_col}") == F.col(f"b.{token_col}")]
    cond += [F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocks]
    cond += [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    dots = (
        a.join(b, on=cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .agg(
            F.sum(F.col(f"a.{weight_col}") * F.col(f"b.{weight_col}")).alias("dp")
        )
    )
    na = nrm.select(F.col(id_col).alias("a_id"), F.col("nrm").alias("nrm_a"))
    nb = nrm.select(F.col(id_col).alias("b_id"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .filter(F.col("dp") / (F.col("nrm_a") * F.col("nrm_b")) >= threshold)
    )


def estimate_cosine_plan(
    doc_tokens: Sequence[tuple[tuple, Sequence[str]]],
    threshold: float,
) -> dict:
    """Choose between cosine_naive_join and cosine_prefix_join — both
    exact, so the choice is pure physical planning (reference analog:
    the size-based matcher dispatch in entity_matching_optimized.py:312,
    lifted one level up to plan selection). Pure Python over a small
    DOC SAMPLE (fixed-size, e.g. 512 docs pulled with TakeOrdered by
    doc-hash: deterministic, bounded driver state like the k-means
    centroid collects). ``doc_tokens`` is
    [(blocks_tuple, [token, ...]), ...].

    In-sample df -> tf*(1/df) weights -> per-doc heavy prefix
    (L2-suffix >= t^2 * total under _heavy_terms' (weight desc, token
    asc) order) -> posting counts (per (blocks, token): cnt = posting
    size, hcnt = heavy-prefix posting size, the index side the prefix
    join uses) -> the cost model:

        est_naive  = sum cnt*(cnt-1) / 2          (its one pair-row pass)
        cand_rows  = sum hcnt*(cnt-1)             (prefix candidate rows)
        pairs_ub   = min(cand_rows, in-block doc pairs)
        est_prefix = cand_rows + pairs_ub * (T + 2)

    where T = avg tokens/doc. The second term is the part the naive
    plan never pays: after the distinct, the exact dot re-joins every
    candidate PAIR against the FULL token list of one side. On
    template-dense corpora the candidate pairs approach the whole
    in-block pair space (measured on the documents fixture: 158,620 of
    159,293 pairs survive the filter), so the one-pass naive join
    wins; on near-dup-sparse corpora heavy postings collapse and
    prefix wins unboundedly. Ties go to prefix.

    The estimates are unbiased under document sampling (E[c_s*(c_s-1)]
    = p^2 * c*(c-1)) and both scale by the same p^2, so the decision is
    invariant to the (unknown) rate — no corpus count needed. A Spark
    aggregate of the same statistics is stage-latency-bound (PERF.md
    decision 17), which is why the estimate runs on the driver.
    """
    from collections import Counter

    df: Counter = Counter()
    tfs = []
    for blocks, toks in doc_tokens:
        tf = Counter(toks)
        tfs.append((blocks, tf))
        for t in tf:
            df[t] += 1

    cnt: Counter = Counter()
    hcnt: Counter = Counter()
    block_docs: Counter = Counter()
    n_rows = 0
    for blocks, tf in tfs:
        block_docs[blocks] += 1
        w = {t: n / df[t] for t, n in tf.items()}
        n_rows += len(w)
        total = sum(x * x for x in w.values())
        suffix = 0.0
        heavy = set()
        # iterate in the exact REVERSE of the window's (weight desc,
        # token asc) order — token desc, then stable-sorted weight asc
        # — so `suffix` accumulates the L2 tail exactly as
        # rowsBetween(currentRow, unboundedFollowing) does
        order = sorted(w, reverse=True)
        order.sort(key=lambda t: w[t])
        for t in order:
            suffix += w[t] * w[t]
            if suffix >= threshold * threshold * total:
                heavy.add(t)
        for t in w:
            cnt[(blocks, t)] += 1
            if t in heavy:
                hcnt[(blocks, t)] += 1

    pair_rows = sum(c * (c - 1) for c in cnt.values())
    cand_rows = sum(h * (cnt[k] - 1) for k, h in hcnt.items())
    n_docs = max(1, len(tfs))
    block_pairs = sum(n * (n - 1) / 2.0 for n in block_docs.values())
    tokens_per_doc = n_rows / n_docs
    est_naive = pair_rows / 2.0
    pairs_ub = min(float(cand_rows), block_pairs)
    est_prefix = cand_rows + pairs_ub * (tokens_per_doc + 2.0)
    return {
        "plan": "naive" if est_naive < est_prefix else "prefix",
        "est_naive": est_naive,
        "est_prefix": est_prefix,
        "pair_rows": pair_rows,
        "cand_rows": cand_rows,
        "block_pairs": block_pairs,
        "tokens_per_doc": tokens_per_doc,
        "sample_docs": len(tfs),
    }


# Seed for the simhash plane-family affine hashes (distinct from the
# minhash default so the two signature families are independent).
SIMHASH_FAMILY_SEED = 0xC051E9A1

# Widest banding the SQL twins bake their sizing CASE matrix for:
# w = 24 covers corpora up to target_occupancy * 2^24 docs (268M at
# the default 16) — an ORACLE-CAPACITY literal, not a tuning clamp.
# auto_simhash_bands itself is unbounded; oracle-gated queries raise
# LOUD past this instead of silently saturating (the round-8
# constant-clamp lesson: a silent clamp on a size-derived rule is a
# future cliff — tests/test_cosine_join.py pins the raise).
SIMHASH_ORACLE_MAX_WIDTH = 24


def simhash_plane_family(n_planes: int) -> list[tuple[int, int]]:
    """Carter-Wegman (a, b) pairs defining the EXTENDED hyperplane
    universe: plane i's +1/-1 component for token hash t is bit
    (i mod 31) of (a_j * t + b_j) mod p with j = i div 31. Family 0
    is the identity (1, 0) — bits of the raw md5 token hash, the
    original 31-plane universe — and families j >= 1 re-hash the same
    31-bit base (dedup's minhash move) so the plane count is unbounded
    while every value stays < 2^62 under ANSI mode. PREFIX-STABLE in
    n_planes (like vectors.make_planes): auto-sizing only chooses how
    many of the same deterministic planes participate, which is what
    lets the SQL twin bake the family once and filter planes < w*c."""
    from firmable_aus_etl_spark.operators.dedup import _hash_family

    n_fams = -(-n_planes // 31)
    fams = [(1, 0)]
    if n_fams > 1:
        fams += _hash_family(n_fams - 1, seed=SIMHASH_FAMILY_SEED)
    return fams


def auto_simhash_bands(
    n: int,
    *,
    target_occupancy: int = 16,
    min_width: int = 8,
    design_cosine: float = 0.95,
    recall_target: float = 0.9,
    max_chunks: int | None = None,
) -> tuple[int, int]:
    """Occupancy-and-recall-sized (width, chunks) for the sign-LSH
    banding — the SCALING.md round-8b law made executable (round-8
    verdict Next #1; fixed 4x8 banding is a constant-factor 2^8
    candidate reducer that saturates in its second decade, measured
    zipf10 tail 1.87):

      * width w grows with log2(n): the smallest w with expected
        bucket width n / 2^w <= target_occupancy, the same pure
        integer arithmetic as vectors.auto_n_planes (ceil-log2 via
        bit_length — no libm, so an SQL CASE over integer thresholds
        re-derives it exactly). Constant occupancy keeps the
        per-chunk candidate join output ~linear in n instead of
        quadratic. UNBOUNDED above — no clamp to saturate.
      * chunks c restores recall at the design point: per-bit
        agreement p = 1 - acos(design_cosine)/pi, banding recall
        1 - (1 - p^w)^c, so c = ceil(ln(1-recall_target)/ln(1-p^w))
        — the standard LSH amplification, c ~ n^(log2(1/p)) when
        2^w ~ n (sublinear; total work ~ n^(1+rho), the published
        sign-LSH exponent). Computed driver-side in Python floats and
        BAKED as integer literals into the SQL twin's w -> c CASE, so
        both engines run the identical (w, c).

    Cost model at the default design point (0.95 / 0.9):
    w=8 -> c=5, w=12 -> c=8, w=16 -> c=12, w=20 -> c=19 — signature
    work n * w * c stays ~n^1.2, candidate work c * n * occupancy/2
    ~n^1.2. Recall at cosines below design_cosine is lower (the
    disclosed LSH trade); callers needing recall AT a low threshold
    tau should size with design_cosine=tau and route to embedding-ANN
    when the returned chunks exceed their budget (queries.py
    tfidf_cosine_tau_routed)."""
    raw = (max(1, -(-n // max(1, target_occupancy))) - 1).bit_length()
    width = max(min_width, raw)
    chunks = simhash_chunks_for_width(
        width, design_cosine=design_cosine, recall_target=recall_target
    )
    # max_chunks caps AMPLIFICATION, not cost-by-stealth: unlike the
    # outlawed silent cost clamps, capping c lowers the DISCLOSED
    # recall curve 1-(1-p^w)^c (threshold-boundary recall degrades
    # with scale; high-cosine top-1 winners stay well-recalled — at
    # w=15, c=24: 0.26 at cosine 0.70 but 0.92 at 0.90, 0.998 at
    # 0.95), and the capped c is replayed in the SQL twin so both
    # engines run the identical configuration. This is the honest
    # deep-scale arm for tau-threshold matching: round-9 measured the
    # feature-hash->multiprobe-LSH alternative COLLECTING the corpus
    # (1,100-1,330 candidates/doc on zipf at 6-37x the cost — sign-LSH
    # has no separation gap when tau sits inside the corpus's dense
    # moderate-similarity mass, rho -> 0), so bounded-candidate
    # banding with a stated recall curve beats an unbounded candidate
    # generator that cannot prune.
    if max_chunks is not None:
        chunks = min(chunks, max_chunks)
    return width, chunks


def simhash_chunks_for_width(
    width: int,
    *,
    design_cosine: float = 0.95,
    recall_target: float = 0.9,
) -> int:
    """c = ceil(ln(1-recall)/ln(1-p^w)) at p = 1 - acos(design)/pi —
    the amplification count that holds banding recall at the design
    cosine for a given band width. Pure function of its arguments
    (driver-side floats), shared by auto_simhash_bands and the SQL
    twin generator so the w -> c literals baked into the oracle CASE
    are the ones the Spark plan uses."""
    import math

    p = 1.0 - math.acos(design_cosine) / math.pi
    if p >= 1.0:
        # design_cosine = 1.0 (exact duplicates): identical vectors
        # produce identical signatures, so ONE band already has
        # recall 1 — and log(1 - p^w) is out of libm's domain there
        return 1
    return max(
        1,
        math.ceil(
            math.log(1.0 - recall_target) / math.log(1.0 - p**width)
        ),
    )


def weighted_simhash_candidates(
    wt: DataFrame,
    *,
    id_col: str,
    token_col: str,
    weight_col: str,
    block_cols: Sequence[str] = (),
    width: int = 8,
    chunks: int = 4,
) -> DataFrame:
    """Sign-LSH candidate pairs for WEIGHTED cosine similarity
    (Charikar, "Similarity Estimation Techniques from Rounding
    Algorithms", STOC 2002): plane i's hyperplane component for token
    t is +1/-1 from bit (i mod 31) of affine re-hash (i div 31) of
    the token's 31-bit hash (simhash_plane_family), so
    bit_i(doc) = sign(sum_t w_t * (2*bit_i(h(t)) - 1)) — an unbiased
    random projection of the tf-idf vector. Docs with cosine c agree
    per bit with probability 1 - acos(c)/pi; banding ``chunks`` bands
    of ``width`` bits turns that into the standard LSH recall curve
    1 - (1 - p^width)^chunks (DISCLOSED, like minhash banding), and
    candidates come from per-band equi-self-joins within
    ``block_cols``: hash-join cost, bucketed by (block, chunk_id,
    chunk), never all-pairs.

    (width, chunks) should come from :func:`auto_simhash_bands` at
    scale — width widens with log2(n) so bucket occupancy (hence
    candidate fan-out) stays constant, chunks restore recall at the
    design cosine. The fixed default (8, 4) is the small-corpus
    floor. Each band is its own value column (no packing into one
    64-bit word), so the plane universe is unbounded; band values
    need width <= 62 bits — i.e. corpora under occupancy * 2^62 docs,
    unreachable.

    ``weight_col`` must be an INTEGER weight (e.g. (tf * 10^9) div df):
    the bit is a SIGN of a sum, which no output rounding can mask, so
    it must accumulate exactly and order-independently in every engine
    — integer sums are, double sums are not. The cosine VERIFY that
    follows uses the ordinary double weights; only the signature is
    integer-exact.

    This is the designated 100 TB route for cosine-threshold matching
    on corpora where exact joins go quadratic (every token's df ∝ n —
    see SCALING.md round-7/8): signature cost is one linear aggregate,
    candidate cost is bucket-bounded, verify touches candidates only.
    Returns (a_id, b_id) with a_id < b_id, distinct.

    The candidate DEDUP groups on (a_id, b_id) ONLY (round-11
    keys-not-payloads, the ANN late-fetch move transferred to the
    banded arm): the distinct's exchange carries two longs per row
    instead of also dragging the block strings through band_count x
    occupancy candidate rows. Blocks are not returned: each doc id
    belongs to exactly ONE block (the signature aggregate groups by
    (id, blocks) and ids are unique across blocks), so blocks are
    functionally dependent on a_id and a verify that needs them
    re-attaches them through a doc-id join.

    reference scope: op22 scale path at the scale the reference never
    reaches (entity_matching_optimized.py:122-191 scores all pairs
    in-memory); SURVEY §4 custom work #4.
    """
    if width > 62:
        raise ValueError(f"band width {width} exceeds 62-bit band values")
    blocks = list(block_cols)
    n_planes = width * chunks
    fams = simhash_plane_family(n_planes)
    p = F.lit(2147483647).cast("long")  # dedup._MERSENNE_31
    t = F.col(token_col).cast("long")
    # hoist the <=ceil(planes/31) affine family hashes into ONE
    # projection per row: each re-hash is shared by 31 planes, so the
    # aggregate below runs only shift/and/multiply integer ops per
    # plane instead of re-deriving the pmod chain planes times
    # (measured at zipf3/150k docs: the per-plane pmod form cost ~3x)
    pre = wt.select(
        id_col,
        *blocks,
        weight_col,
        *[
            (
                t if j == 0 else F.pmod(F.lit(a_j) * t + F.lit(b_j), p)
            ).alias(f"__h{j}")
            for j, (a_j, b_j) in enumerate(fams)
        ],
    )
    signed = []
    for i in range(n_planes):
        j, b = divmod(i, 31)
        signed.append(
            F.sum(
                F.col(weight_col)
                * (
                    F.shiftright(F.col(f"__h{j}"), b).bitwiseAND(F.lit(1))
                    * 2
                    - F.lit(1)
                )
            ).alias(f"__s{i}")
        )
    agg = pre.groupBy(id_col, *blocks).agg(*signed)
    band_vals = []
    for c in range(chunks):
        val = None
        for b in range(width):
            bit = F.shiftleft(
                (F.col(f"__s{c * width + b}") > 0).cast("long"), b
            )
            val = bit if val is None else val.bitwiseOR(bit)
        band_vals.append(val)
    chunked = agg.select(
        F.col(id_col).alias("__id"),
        *blocks,
        F.posexplode(F.array(*band_vals)).alias("chunk_id", "chunk"),
    )
    l, r = chunked.alias("l"), chunked.alias("r")
    on = [
        F.col("l.chunk_id") == F.col("r.chunk_id"),
        F.col("l.chunk") == F.col("r.chunk"),
        F.col("l.__id") < F.col("r.__id"),
    ]
    on += [F.col(f"l.{c}") == F.col(f"r.{c}") for c in blocks]
    return (
        l.join(r, on=on)
        .select(F.col("l.__id").alias("a_id"), F.col("r.__id").alias("b_id"))
        .distinct()
    )


def build_tfidf_index(
    wt: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    token_col: str = "t",
    weight_col: str = "wt",
    block_cols: Sequence[str] = (),
) -> None:
    """Persist a TF-IDF matching index — the build-once/query-many
    serving shape of op22 (text sibling of vectors.build_ivf_index;
    reference analog: the incremental "match new rows against the
    loaded corpus" flow around entity_matching_tfidf.py:121-140).

    Three relations land under ``path``:
      wt/     (id, [blocks...], token, weight) — the inverted index
      norms/  (id, nrm) — corpus-side L2 norms
      df/     (token, df) — document frequencies, so query batches are
              weighted with the SAME idf the corpus was built with
              (tokens unseen at build time are dropped on both sides,
              matching a fixed-vocabulary vectorizer).

    wt/ is laid out hive-partitioned-free but sorted by token within
    files so token-range row-group skipping applies; at cluster scale
    register it as a token-bucketed table (partitioning.write_bucketed)
    and the query join reads shuffle-free on the index side.
    """
    blocks = list(block_cols)
    wt_out = wt.select(
        F.col(id_col).alias("id"), *blocks,
        F.col(token_col).alias("token"), F.col(weight_col).alias("weight"),
    )
    wt_out.repartition("token").sortWithinPartitions("token").write.mode(
        "overwrite"
    ).parquet(f"{path}/wt")
    nrm = wt_out.groupBy("id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("nrm")
    )
    nrm.write.mode("overwrite").parquet(f"{path}/norms")
    df_rel = wt_out.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    df_rel.write.mode("overwrite").parquet(f"{path}/df")


def tfidf_index_topk(
    query_terms: DataFrame,
    path: str,
    *,
    query_id: str = "q_id",
    token_col: str = "t",
    tf_col: str = "tf",
    block_cols: Sequence[str] = (),
    threshold: float = 0.0,
    k: int = 1,
) -> DataFrame:
    """Match a batch of NEW documents against a build_tfidf_index store
    without touching the corpus text: weight the batch's term counts
    with the STORED document frequencies, inverted-index join on
    (blocks, token), exact cosine, per-query top-k.

    Returns (q_id, doc_id, cosine, rank). Scale shape: the query batch
    is typically small (a daily increment) — its weighted terms hash
    to the index's token partitioning, the dot-product groupBy touches
    only co-token pairs, and norms join at id granularity. Unseen
    tokens drop out (fixed-vocabulary semantics), so query norms use
    indexed tokens only — cosine is computed in the index's space.
    """
    spark = query_terms.sparkSession
    blocks = list(block_cols)
    wt_idx = spark.read.parquet(f"{path}/wt")
    nrm_idx = spark.read.parquet(f"{path}/norms")
    df_rel = spark.read.parquet(f"{path}/df")

    q = (
        query_terms.select(
            F.col(query_id).alias("q_id"), *blocks,
            F.col(token_col).alias("token"), F.col(tf_col).cast("double").alias("tf"),
        )
        .join(df_rel, "token")  # unseen tokens drop here
        .select(
            "q_id", *blocks, "token",
            (F.col("tf") * (F.lit(1.0) / F.col("df"))).alias("q_weight"),
        )
    )
    q_nrm = q.groupBy("q_id").agg(
        F.sqrt(F.sum(F.col("q_weight") * F.col("q_weight"))).alias("q_nrm")
    )
    dots = (
        q.join(wt_idx, on=["token", *blocks])
        .groupBy("q_id", "id")
        .agg(F.sum(F.col("q_weight") * F.col("weight")).alias("dp"))
    )
    scored = (
        dots.join(q_nrm, "q_id")
        .join(nrm_idx, "id")
        .select(
            "q_id",
            F.col("id").alias("doc_id"),
            (F.col("dp") / (F.col("q_nrm") * F.col("nrm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    from firmable_aus_etl_spark.operators.windows import topk_per_group

    return topk_per_group(
        scored,
        ["q_id"],
        [F.col("cosine").desc(), F.col("doc_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )
