"""Deduplication operators (SURVEY.md §2.3: op16-op18) plus the
LLM-data-pipeline near-duplicate family (exact-hash, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine).

Scale notes baked into each operator's shape:
- exact/keyed dedup is one hash shuffle on the key — the minimum possible.
- near-dup families all follow the same blueprint: cheap per-row
  signature (narrow map, no shuffle) -> bucket key -> equi-join within
  buckets (hash shuffle on bucket) -> verify pair -> connected pick.
  That turns O(n^2) similarity into O(n·bucket_width), the same trick as
  the reference's prefix blocking (entity_matching_tfidf.py:159-160)
  generalized to hash families with collision guarantees.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from firmable_aus_etl_spark.functions.similarity import normalize_name


def dedup_full(df: DataFrame) -> DataFrame:
    """op16 — full-row distinct (reference: clean_abr.py:34)."""
    return df.dropDuplicates()


def dedup_keyed(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """op17 — keyed dedup, keep-first.

    reference: clean_abr.py:35 (by abn), clean_common_crawl.py:29
    (by website_url+company_name).

    The reference's keep-"first" depends on pandas iteration order; here
    the survivor is defined by an explicit ``tiebreak`` ordering so the
    result is deterministic (SURVEY §7.4). Without a tiebreak this
    degrades to ``dropDuplicates(keys)`` (any survivor — cheapest plan,
    fine when the caller doesn't care which row wins).
    """
    if tiebreak is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_best(
    df: DataFrame,
    keys: Sequence[str],
    score_col: str,
    tiebreak: Sequence[Column] = (),
) -> DataFrame:
    """op18 — best-record dedup: highest score wins per key.

    reference: entity_matching_tfidf.py:121-137 — the UPSERT keeps the
    greater ``match_confidence`` (predicate at :134). Extra ``tiebreak``
    columns make equal-score survivors deterministic.
    """
    order = [F.col(score_col).desc(), *tiebreak]
    return dedup_keyed(df, keys, order)


# --- LLM-pipeline near-duplicate family ----------------------------------


def with_text_fingerprint(
    df: DataFrame, text_col: str, *, out_col: str = "fingerprint"
) -> Column | DataFrame:
    """Exact-dup fingerprint: md5 over whitespace-normalized lowercase text.

    md5 is available in both Spark and DuckDB, so this operator is fully
    oracle-checkable. One narrow map; dedup on the fingerprint is then a
    plain keyed dedup (one shuffle).
    """
    return df.withColumn(out_col, F.md5(normalize_name(F.col(text_col))))


def dedup_exact_text(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact near-dup: keep lowest-id representative per fingerprint."""
    return (
        with_text_fingerprint(df, text_col)
        .transform(
            lambda d: dedup_keyed(d, ["fingerprint"], [F.col(id_col).asc()])
        )
        .drop("fingerprint")
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token-array
    column. ``toks`` must be a plain column reference, not the
    tokenize expression: Spark does no subexpression elimination
    inside lambda functions, so an inlined split/regex tree re-runs
    PER ELEMENT — O(len^2) regex work per document (the perplexity
    lesson, PERF decision 10; round-6 closes the same hole here)."""
    cnt = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(1), F.greatest(cnt, F.lit(1)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text as array<string>.

    Built from slice/transform over the token array — stays JVM-side.
    Prefer tokenizing into its own projection and calling
    :func:`shingles_from_tokens` (see its lambda-inlining caveat);
    this form keeps the one-expression API for single-use callers.
    """
    return shingles_from_tokens(F.split(normalize_name(col), " "), n)


_MERSENNE_31 = (1 << 31) - 1  # 2147483647, prime


def _hash_family(num_hashes: int, *, seed: int = 0x9E3779B9) -> list[tuple[int, int]]:
    """Deterministic Carter-Wegman (a, b) pairs, a in [1, p-1], b in
    [0, p-1], for h_i = (a_i * h + b_i) mod p over 31-bit base hashes.

    31-bit domain keeps a*h + b < 2^62 — no long overflow, which
    matters because Spark 4 runs ANSI mode by default and a wrapping
    64-bit multiply would throw ARITHMETIC_OVERFLOW mid-job.
    """
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = 1 + (state % (_MERSENNE_31 - 1))
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE_31
        out.append((a, b))
    return out


def md5_base_hash(s: Column) -> Column:
    """Portable 31-bit base hash: first 8 hex chars of md5 -> int mod p.

    md5 + hex parsing exist identically in Spark (conv) and DuckDB
    (strpos fold), so signatures built on this base are oracle-checkable
    bit-for-bit. ~3x slower than xxhash64; the fast path stays default.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        F.lit(_MERSENNE_31),
    )


def minhash_signature_from(
    sh_col: Column, *, num_hashes: int = 32, portable: bool = False
) -> Column:
    """MinHash signature (array<bigint>) from a shingle array column.

    Cost design (HOFs are interpreted, not codegen — every op counts):
    each shingle STRING is xxhash64'd exactly once and reduced to a
    31-bit base hash; the k family values derive by mod-p mul-add on
    longs and fold into the k running minima via one aggregate+zip_with
    pass. The naive form (k passes re-hashing the strings, or worse k
    duplicated shingle subtrees) measured 125s for 5000 docs at k=32;
    this form is ~25x cheaper and overflow-safe under ANSI mode.
    """
    family = _hash_family(num_hashes)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in family
        ]
    )
    if portable:
        base = F.transform(sh_col, md5_base_hash)
    else:
        base = F.transform(sh_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))
    init = F.array(*[F.lit(_MERSENNE_31).cast("long")] * num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(ab, lambda p: F.pmod(h * p["a"] + p["b"], F.lit(_MERSENNE_31))),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signatures_arrow(
    sh: DataFrame, *, num_hashes: int = 32, portable: bool = False
) -> DataFrame:
    """MinHash signatures via Arrow-batched numpy — the sanctioned
    escape hatch for the interpreted-HOF ceiling.

    Bit-identical to the ``minhash_signature_from`` fast path: the
    31-bit base hash is still xxhash64 mod p computed JVM-side (no
    numpy xxhash exists), only the k-fold Carter-Wegman min reduction
    moves to numpy — one (k x m) broadcasted mul-add-mod-min per row,
    vectorized instead of interpreted. a < p < 2^31 and h < 2^31 keep
    a*h + b < 2^62: no int64 overflow, same as the ANSI-safe
    expression. Appears in plans as MapInPandas (the sanctioned
    Arrow-batched escape hatch), never BatchEvalPython. It is the one
    signature kernel of the MinHash banding pipelines (A/B 4.6 s ->
    2.3 s warm at sf0.1 against the expression fold, PERF.md decision
    16); the expression form stays the per-row column function for
    the streaming ingests and the tpch_depth queries.

    ``portable=True`` switches the JVM-side base hash to md5
    (md5_base_hash) — the fold is base-agnostic, so the output stays
    bit-identical to ``minhash_signature_from(portable=True)``
    (parity-tested). This is what keeps the AUTO-SIZED oracle DAG
    affordable at depth: num_hashes grows ~n^0.5 under
    auto_minhash_bands and the interpreted-HOF expression pays
    O(shingles * num_hashes) interpreter steps where numpy pays one
    broadcasted kernel.
    """
    family = _hash_family(num_hashes)
    a_vals = [a for a, _ in family]
    b_vals = [b for _, b in family]
    p = _MERSENNE_31
    base = (
        md5_base_hash
        if portable
        else (lambda s: F.pmod(F.xxhash64(s), F.lit(p)))
    )
    hashed = sh.select(
        "__id",
        F.transform(F.col("__sh"), base).alias("__h"),
    )
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [sh.schema["__id"], StructField("__sig", ArrayType(LongType()), True)]
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        an = np.array(a_vals, dtype=np.int64)
        bn = np.array(b_vals, dtype=np.int64)
        # Round-11 (verdict item 4): ONE segmented kernel per batch
        # instead of one (k x m) broadcast per ROW — the per-row loop
        # paid numpy dispatch + temporary allocation per document,
        # which dominates when num_hashes grows under auto banding
        # (365 family values/doc at syn30). Same integer math, same
        # dtype, exact min — bit-identical output (parity-tested).
        # Flatten all rows' base hashes, compute the family once over
        # the flat vector in k-chunks bounded to ~2^25 int64 cells
        # (~256 MB intermediate), and reduce per-row minima with
        # np.minimum.reduceat over the row offsets.
        max_cells = 1 << 25
        for pdf in batches:
            hs = [np.asarray(h, dtype=np.int64) for h in pdf["__h"]]
            n_rows = len(hs)
            out = np.full((n_rows, num_hashes), p, dtype=np.int64)
            lens = np.fromiter((h.size for h in hs), dtype=np.int64, count=n_rows)
            nz = np.flatnonzero(lens)
            if nz.size:
                flat = np.concatenate([hs[i] for i in nz])
                starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
                res = np.empty((num_hashes, nz.size), dtype=np.int64)
                kc = max(1, int(max_cells // max(1, flat.size)))
                for k0 in range(0, num_hashes, kc):
                    k1 = min(num_hashes, k0 + kc)
                    mat = (an[k0:k1, None] * flat[None, :] + bn[k0:k1, None]) % p
                    res[k0:k1] = np.minimum.reduceat(mat, starts, axis=1)
                out[nz] = res.T
            yield pd.DataFrame({"__id": pdf["__id"], "__sig": list(out)})

    return hashed.mapInPandas(fn, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    rows -> signature -> (band_id, band_hash) keys -> self-equi-join on
    the band key -> distinct candidate pairs (a < b). The join is a hash
    shuffle on band keys; band width (num_hashes/bands) tunes the
    precision/recall vs shuffle-size tradeoff at scale.

    ``portable=True`` switches the base hash to md5 and the band key to
    a joined string of the band's minima — every step then exists
    identically in DuckDB, making the candidate set oracle-checkable
    (the xxhash64 fast path stays default for production).

    Returns columns (a_id, b_id) — verification (true Jaccard) is a
    separate composable step so callers can push extra filters between.
    """
    sh = shingle_frame(df, id_col, text_col, shingle_n=shingle_n)
    return minhash_lsh_pairs_from_shingles(
        sh, num_hashes=num_hashes, bands=bands, portable=portable
    )


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, *, shingle_n: int = 3
) -> DataFrame:
    """(__id, __sh) distinct-shingle frame, repartitioned.

    The repartition decouples signature parallelism from input file
    layout (a single small parquet file arrives as ONE partition and
    the O(rows·k) hashing would run on one core — measured 32x slowdown
    locally) AND gives downstream branches an identical Exchange for
    AQE's runtime stage reuse: candidate generation and pair
    verification both consume this frame. Conditional
    (ensure_parallelism): at 100 TB the scan already has thousands of
    splits and the repartition must NOT become a full shuffle — there,
    branches recompute the narrow shingle map instead, the correct
    trade at that size.
    """
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    # two projections, deliberately: the token array materializes as an
    # attribute BEFORE the shingle lambda consumes it (CollapseProject
    # keeps the split out of the lambda because __w is referenced more
    # than once) — otherwise the tokenize regex re-runs per shingle,
    # O(len^2) per document (shingles_from_tokens docstring; A/B in
    # PERF.md round-6)
    toks = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("__id"),
        F.split(normalize_name(F.col(text_col)), " ").alias("__w"),
    )
    return toks.select(
        "__id",
        F.array_distinct(shingles_from_tokens(F.col("__w"), shingle_n)).alias("__sh"),
    )


def minhash_lsh_pairs_from_shingles(
    sh: DataFrame,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Banding + bucket join over a prepared (__id, __sh) frame.

    Signatures come from minhash_signatures_arrow for BOTH base hashes
    (the md5/xxhash base is JVM-side either way; only the Carter-Wegman
    fold runs in numpy, bit-identical to minhash_signature_from —
    parity-tested). Measured 2x warm at sf0.1 for the fast path (PERF
    decision 16); the portable path gains more — its auto-sized
    num_hashes grows ~n^0.5 and an interpreted-HOF fold pays per
    element where numpy pays per batch.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_arrow(sh, num_hashes=num_hashes, portable=portable)

    def band_key(b: int):
        elems = [F.col("__sig")[i] for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        if portable:
            return F.concat_ws(",", *[e.cast("string") for e in elems])
        return F.xxhash64(*elems).cast("string")

    banded = sig.select(
        "__id",
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "band", "band_hash"
        ),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.__id") < F.col("r.__id"),
            ],
        )
        .select(F.col("l.__id").alias("a_id"), F.col("r.__id").alias("b_id"))
        .distinct()
    )


# Background-collision budget bits for auto_minhash_bands: the sizing
# rule assumes a designed per-row background match probability of
# 2^-MINHASH_BG_BITS (J_bg <= 1/16). Real corpora measure far lower
# (the uniform-vocab synthetic fixture ~0.0014, zipf text lower
# still), so the rule is conservative: it oversizes rows, never
# undersizes. 4 bits keeps the num_hashes growth ~n^0.5 at the 0.5
# design Jaccard (the published minhash rho = ln(1/j)/ln(1/j_bg)).
MINHASH_BG_BITS = 4

# Deepest rows-per-band the SQL twins bake their sizing matrix for:
# r = 6 covers corpora up to target_mass * 2^(4*6) docs (268M at the
# default 16) — an ORACLE-CAPACITY literal, not a tuning clamp
# (auto_minhash_bands itself is unbounded; oracle_minhash_bands raises
# LOUD past it instead of silently saturating — the round-8
# constant-clamp lesson, same shape as SIMHASH_ORACLE_MAX_WIDTH).
MINHASH_ORACLE_MAX_ROWS = 6


def minhash_bands_for_rows(
    rows: int, *, design_jaccard: float = 0.5, recall_target: float = 0.9
) -> int:
    """b = ceil(ln(1-recall)/ln(1-j^r)) — the LSH amplification count
    that holds banding recall 1-(1-j^r)^b at the design Jaccard for a
    given rows-per-band. Pure function of its arguments (driver-side
    floats), shared by auto_minhash_bands and the SQL twin generator
    so the r -> b literals baked into the oracle CASE are the ones the
    Spark plan uses (the exact transposition of
    cosine_join.simhash_chunks_for_width to Jaccard space)."""
    import math

    q = design_jaccard**rows
    if q >= 1.0:
        # design_jaccard = 1.0 (exact duplicates): identical shingle
        # sets always share every band — one band has recall 1
        return 1
    return max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - q)))


def auto_minhash_bands(
    n: int,
    *,
    target_mass: int = 16,
    bg_bits: int = MINHASH_BG_BITS,
    min_rows: int = 2,
    design_jaccard: float = 0.5,
    recall_target: float = 0.9,
) -> tuple[int, int]:
    """Size-derived (rows_per_band, bands) for MinHash banding — the
    round-10 decade-3 finding made executable (SCALING.md round-10
    Finding 5: FIXED 2-row bands collide background pairs with
    probability ~E[J_bg^2], so background candidate mass is
    Theta(n^2 * E[J_bg^2]) — small enough to hide for two data decades
    on the synthetic corpus (~320k at syn10), 2.4x the wall at syn30.
    auto_simhash_bands transposed to Jaccard space):

      * rows_per_band r grows with log2(n): the smallest r with
        designed background band-collision mass n^2 * (2^-bg_bits)^r
        <= target_mass * n — i.e. r = ceil(ceil_log2(n/target)/bg_bits)
        — pure integer arithmetic (bit_length, no libm), so an SQL
        CASE over integer thresholds re-derives it exactly
        (r <= k iff n <= target_mass * 2^(bg_bits*k)). Each +1 on r
        multiplies background collisions by J_bg while the recall law
        restores the design point, which is what keeps candidate mass
        ~linear in n instead of quadratic. UNBOUNDED above — no clamp
        to saturate.
      * bands b restores recall at the design Jaccard:
        b = ceil(ln(1-recall)/ln(1-j^r)) (minhash_bands_for_rows) —
        the standard LSH amplification, b ~ n^(ln(1/j)/ln(1/j_bg))
        (sublinear; total signature work n * r * b ~ n^1.5 in hash
        count at j=0.5/bg 1/16, each hash one integer mul-add-mod-min).

    Cost model at the defaults (j=0.5, recall 0.9, bg 1/16, mass 16):
    n<=4k -> (2, 9), n<=65k -> (3, 18), n<=1M -> (4, 36),
    n<=16.7M -> (5, 73), n<=268M -> (6, 147). Recall at the 0.5 verify
    threshold stays ~0.9 BY CONSTRUCTION at every scale (the fixed
    (2, 8) config's 0.90 was a point property of r=2); recall below
    the design Jaccard decays faster with r — irrelevant to the
    verified DAG, whose verify threshold IS the design point."""
    k = (max(1, -(-n // max(1, target_mass))) - 1).bit_length()
    rows = max(min_rows, -(-k // max(1, bg_bits)))
    return rows, minhash_bands_for_rows(
        rows, design_jaccard=design_jaccard, recall_target=recall_target
    )


def oracle_minhash_bands(n: int, **kw) -> tuple[int, int]:
    """auto_minhash_bands bounded by the oracle twin's baked matrix:
    raises LOUD past MINHASH_ORACLE_MAX_ROWS (268M docs at the
    defaults) instead of silently clamping — the SQL twin's ELSE NULL
    branch is unreachable in a green run because this raise fires
    first (same contract as SIMHASH_ORACLE_MAX_WIDTH)."""
    rows, bands = auto_minhash_bands(n, **kw)
    if rows > MINHASH_ORACLE_MAX_ROWS:
        raise ValueError(
            f"auto_minhash_bands sized rows_per_band={rows} for n={n}, "
            f"past the oracle matrix capacity {MINHASH_ORACLE_MAX_ROWS} "
            f"(~268M docs at the defaults); extend the baked matrix"
        )
    return rows, bands


def simhash64_from(hashes_col: Column, total_col: Column) -> Column:
    """64-bit SimHash from a MATERIALIZED array<bigint> of token hashes.

    Per bit b: output bit = majority of token-hash bits. 64 aggregate
    expressions, but each loops over a cheap column reference — the
    token/hash subtree must sit behind a projection boundary (same
    codegen-overflow reasoning as minhash_signature_from).
    """
    bit_cols = []
    for b in range(64):
        ones = F.aggregate(
            hashes_col,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
        )
        bit = (ones * 2 > total_col).cast("long")
        bit_cols.append(F.shiftleft(bit, b))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash of the normalized token set, pure expressions.

    Inline variant (recomputes the token hashes per bit — fixture scale
    only); the operator path materializes hashes first via
    ``simhash64_from``.
    """
    toks = F.array_distinct(F.split(normalize_name(col), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return simhash64_from(hashes, F.size(toks).cast("long"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup candidates via the pigeonhole block trick.

    Split the hash into ``blocks`` chunks; two hashes within
    ``max_hamming <= blocks-1`` must agree on at least one chunk, so a
    self-join per chunk finds all candidates with equi-join cost.
    Verify with true hamming distance after the join.

    ``portable=True`` switches the base token hash to the 31-bit md5
    family (md5_base_hash) and the signature to 31 bits chunked over a
    32-bit space — every stage then replays bit-for-bit in DuckDB
    (see queries.simhash_near_dups oracle). The chunking must track the
    signature width: chunking a 31-bit signature over 64 bits would
    leave the high chunks all-zero, turning the pigeonhole equi-join
    into an accidental cross join.
    """
    n_bits = 31 if portable else 64
    sig_bits = 32 if portable else 64
    toks = F.array_distinct(F.split(normalize_name(F.col(text_col)), " "))
    # same file-layout decoupling as minhash_lsh_pairs
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    base = (
        (lambda t: md5_base_hash(t))
        if portable
        else (lambda t: F.xxhash64(t))
    )
    hashed = df.select(
        F.col(id_col).alias("__id"),
        F.transform(toks, base).alias("__h"),
    )
    # flat-aggregation signature: explode token hashes and take 64
    # codegen'd bit-sums in one groupBy, instead of 64 interpreted
    # array folds per row (simhash64_from) — identical integer math,
    # same signatures, measured 8.4 s -> ~2 s at sf0.1. The groupBy
    # key equals ensure_parallelism's hash key, so no extra exchange.
    exploded = hashed.select("__id", F.explode("__h").alias("__th"))
    counts = exploded.groupBy("__id").agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__th"), b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
            for b in range(n_bits)
        ],
    )
    sh = None
    for b in range(n_bits):
        bit = F.shiftleft(
            (F.col(f"__b{b}") * 2 > F.col("__n")).cast("long"), b
        )
        sh = bit if sh is None else sh.bitwiseOR(bit)
    sig = counts.select("__id", sh.alias("__sh"))
    return hamming_near_dup_pairs(
        sig, "__id", "__sh", max_hamming=max_hamming, blocks=blocks,
        sig_bits=sig_bits,
    )


def hamming_near_dup_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
    sig_bits: int = 64,
) -> DataFrame:
    """Pigeonhole hamming join over PRECOMPUTED fixed-width signatures:
    two signatures within ``max_hamming <= blocks-1`` bits must agree
    on at least one of ``blocks`` chunks, so a per-chunk equi-self-join
    finds every candidate at hash-join cost; true hamming verifies.
    Shared by SimHash text dedup and perceptual-hash media dedup.
    Emits (a_id, b_id, hamming) with a_id < b_id.

    ``sig_bits`` must match the actual signature width (64 for xxhash
    SimHash / aHash, 32 for the portable 31-bit md5 family): chunks
    beyond the real width are identically zero and would match every
    row against every row — quadratic, the exact failure the pigeonhole
    trick exists to avoid."""
    width = sig_bits // blocks
    chunked = sig.select(
        F.col(id_col).alias("__id"),
        F.col(sig_col).alias("__sh"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), b * width).bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(blocks)
                ]
            )
        ).alias("chunk_id", "chunk"),
    )
    l, r = chunked.alias("l"), chunked.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.chunk_id") == F.col("r.chunk_id"),
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.__id") < F.col("r.__id"),
            ],
        )
        .select(
            F.col("l.__id").alias("a_id"),
            F.col("r.__id").alias("b_id"),
            hamming64(F.col("l.__sh"), F.col("r.__sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """The 100 TB near-dup pipeline: MinHash-LSH candidates -> exact
    n-gram Jaccard verification on candidates only.

    Cost shape: signatures O(n), banding join O(candidates), exact
    verify O(candidates * doc_len) — vs the exact inverted-index join's
    O(sum_token df_token^2). With 2-row bands, recall for jaccard>=0.5
    is 1-(1-j^2)^bands (~0.99 at j=0.5, ~1.0 at j>=0.8); tune bands up
    for higher recall at more shuffle. Signatures run through the
    Arrow/numpy kernel of minhash_lsh_pairs_from_shingles.
    """
    sh = shingle_frame(df, id_col, text_col, shingle_n=shingle_n)
    cand = minhash_lsh_pairs_from_shingles(
        sh, num_hashes=num_hashes, bands=bands, portable=portable
    )
    # verify on xxhash64'd shingle sets: the candidate volume is
    # O(colliding pairs) and each verification intersects two ~|s|
    # arrays — on 8-byte longs instead of strings, with
    # |A∪B| = |A|+|B|-|A∩B| replacing the array_union materialization
    # (same move as ngram_jaccard_pairs_prefix; same 2^-64 collision
    # caveat, surfaced by the exact-parity test).
    h = sh.select(
        "__id", F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__h")
    )
    a = h.select(F.col("__id").alias("a_id"), F.col("__h").alias("__h_a"))
    b = h.select(F.col("__id").alias("b_id"), F.col("__h").alias("__h_b"))
    inter = F.size(F.array_intersect(F.col("__h_a"), F.col("__h_b"))).cast("double")
    union = (
        F.size(F.col("__h_a")) + F.size(F.col("__h_b"))
    ).cast("double") - inter
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index join.

    explode shingles -> self-join on shingle -> count shared shingles
    per pair -> Jaccard = shared / (|A| + |B| - shared) -> threshold.

    This is the exact (non-approximate) verifier: the join fans out
    QUADRATICALLY with shingle document frequency (Sum_sh C(df,2) —
    SKEW.md measures 22.4M pair rows from 5k docs), so at 100 TB you
    run minhash_lsh_pairs or ngram_jaccard_pairs_prefix and verify on
    candidates only. ``max_rows`` is the scale gate (round-4 verdict
    "What's wrong #3"): above it this raises instead of shipping the
    quadratic plan — pass ``max_rows=None`` to run it anyway as an
    oracle/exactness twin on a corpus you have sized deliberately.
    The count costs one pre-pass over the (cached upstream) input —
    nothing at oracle scales, and the guard exists precisely so the
    big-corpus path never reaches the join.
    """
    if max_rows is not None:
        # short-circuit: LIMIT max_rows+1 stops the scan at the first
        # over-limit partition instead of counting the whole input
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs is the quadratic-fanout exact join "
                f"(> max_rows={max_rows} rows); use "
                f"ngram_jaccard_pairs_prefix or verified_near_dup_pairs at "
                f"this scale, or pass max_rows=None deliberately"
            )
    # explode_outer + null-drop instead of explode: identical rows, but
    # InferFiltersFromGenerate fires only for INNER generates — the
    # inferred `size(<shingle pipeline>) > 0` filter it synthesizes gets
    # pushed below shingle_frame's repartition exchange and re-evaluates
    # the whole parse (in the CollapseProject-collapsed O(len^2) regex
    # form, interpreted) on the raw scan's tasks — the round-11 zipf30
    # straggler finding (a single-file input has as many working scan
    # tasks as parquet ROW GROUPS; at zipf30 that was 2 tasks x ~10 min).
    sh = (
        shingle_frame(df, id_col, text_col, shingle_n=shingle_n)
        .select("__id", F.explode_outer("__sh").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    sizes = sh.groupBy("__id").agg(F.count("*").alias("sz"))
    l, r = sh.alias("l"), sh.alias("r")
    shared = (
        l.join(r, on=[F.col("l.sh") == F.col("r.sh"), F.col("l.__id") < F.col("r.__id")])
        .groupBy(F.col("l.__id").alias("a_id"), F.col("r.__id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("__id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id")
        .join(sizes.withColumnRenamed("__id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _prefix_len(sz: Column, threshold: float) -> Column:
    """|s| - ceil(t*|s|) + 1 — with an epsilon so FP noise can only
    LENGTHEN the prefix (shorter-than-true prefixes drop pairs)."""
    req = F.ceil(sz.cast("double") * F.lit(threshold) - F.lit(1e-9))
    return (sz - req + F.lit(1)).cast("int")


def jaccard_prefix_candidates(docs: DataFrame, *, threshold: float) -> DataFrame:
    """Candidate (a_id, b_id) pairs for the prefix-filtered Jaccard
    join, from a ``(__id, __h: sorted array<long>)`` frame.

    The global shingle order is the sorted hash array itself: prefix =
    slice, zero extra shuffles. Frequent shingles stay in prefixes with
    probability ~(1-t), so fan-out shrinks by (1-t)^2 but remains
    quadratic in shingle frequency; on boilerplate-skewed corpora the
    caller prunes the sets first (ngram_jaccard_pairs_prefix's
    ``prune_df="auto"``, see :func:`df_pruned_shingles`).
    """
    sz = F.size(F.col("__h"))
    plen = _prefix_len(sz, threshold)
    # posexplode_outer + null-drop: __h is the full parse pipeline (or
    # the pruned re-agg) — an INNER generate over an attribute makes
    # InferFiltersFromGenerate synthesize `size(__h-expr) > 0`, which
    # filter-pushdown then moves below the parse's repartition exchange,
    # re-running the whole tokenize+shingle per row on the raw scan's
    # few row-group-bearing tasks (round-11 zipf30 straggler finding).
    pref = docs.select(
        "__id",
        sz.alias("sz"),
        F.posexplode_outer(F.slice(F.col("__h"), 1, plen)).alias("pos", "sh"),
    ).filter(F.col("sh").isNotNull())
    l, r = pref.alias("l"), pref.alias("r")
    szs = F.col("l.sz") + F.col("r.sz")
    # PPJoin positional filter: J>=t needs overlap >= t/(1+t)*(|A|+|B|);
    # at the EARLIEST common element (positions i,j in the sorted
    # arrays) every common element sits at or after it in both sides,
    # so overlap <= min(|A|-i, |B|-j). Pruning at every collision is
    # sound because the earliest-collision row always carries the valid
    # bound and candidates are unioned via distinct.
    min_overlap = F.ceil(
        szs.cast("double") * F.lit(threshold / (1.0 + threshold)) - F.lit(1e-9)
    )
    cand = (
        l.join(
            r,
            on=[
                F.col("l.sh") == F.col("r.sh"),
                F.col("l.__id") < F.col("r.__id"),
                # length filter: J>=t forces min_sz >= t*max_sz
                F.least(F.col("l.sz"), F.col("r.sz")).cast("double")
                >= F.lit(threshold)
                * F.greatest(F.col("l.sz"), F.col("r.sz")).cast("double")
                - F.lit(1e-9),
                F.least(
                    F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos")
                )
                >= min_overlap,
            ],
        )
        .select(F.col("l.__id").alias("a_id"), F.col("r.__id").alias("b_id"))
        .distinct()
    )
    return cand


def auto_prune_df(n_docs: int) -> int:
    """Data-dependent boilerplate bound for :func:`df_pruned_shingles`:
    ``max(8, isqrt(n_docs))`` (round-7, the auto_n_planes pattern).

    Rationale: in a near-dup corpus, CONTENT shingles have df = O(1)
    (a document and its few near-copies) while BOILERPLATE shingles
    (license footers, navigation chrome, templated headers) have
    df ∝ n. sqrt(n) separates the two regimes at any scale — content
    stays, boilerplate goes — and a shingle at the bound contributes
    at most C(sqrt(n), 2) ~ n/2 candidate rows, so no single shingle
    can be a super-linear term. Pure-integer (math.isqrt) and exactly
    replayable in SQL as greatest(8, floor(sqrt(n) + 1e-9)): sqrt is
    correctly rounded in both engines and n << 2^52, so the floor
    matches isqrt bit-for-bit.

    On corpora with NO df ∝ n regime (e.g. the uniform fixed-vocab
    test fixtures, where every shingle's df ~ n/|vocab_shingles|) the
    bound sits above nearly every df and the rule self-deactivates —
    correct behavior: those shingles ARE the content, pruning them
    would destroy recall, and no exact join can be sub-quadratic
    there (Sum_sh C(df,2) with df ∝ n is inherently n²; the minhash
    DAG is the designated route for that corpus shape).

    Round-10 caveat, measured at decade 3: this bound alone caps each
    shingle's contribution but not the SUM — on a zipf vocabulary the
    kept mass Sum_{8<df<=sqrt(n)} C(df,2) grows ~n^1.45 (measured:
    2.19e9 at zipf30 -> 531 s + 66 GB spill). When a df ∝ n regime IS
    present, :func:`budget_prune_bound` tightens the bound to hold the
    kept mass linear; this function remains the DETECTION threshold
    (what counts as boilerplate) and the self-deactivation test.
    """
    import math

    return max(8, math.isqrt(int(n_docs)))


#: kept-candidate budget: the prune bound is tightened until the kept
#: pair mass Sum_{floor<df<=b} C(df,2) <= BUDGET_PAIRS_PER_DOC * n —
#: linear by construction. 64 pairs/doc keeps the zipf30 verify join
#: ~100x below the isqrt bound's measured 2.19e9 while sitting far
#: above every content-shingle df (near-dup payloads live at df=O(1)).
BUDGET_PAIRS_PER_DOC = 64


def budget_prune_bound(
    n_docs: int,
    df_hist: dict[int, int] | list[tuple[int, int]],
    *,
    floor: int = 8,
    budget_per_doc: int = BUDGET_PAIRS_PER_DOC,
) -> int:
    """Round-10 prune bound: candidate-budgeted boilerplate cut.

    ``df_hist`` maps shingle document-frequency -> number of shingles
    at that df (integer counts — engine-identical, so the rule
    replays bit-for-bit in the SQL twin's window form).

    Two regimes, decided by the isqrt detection threshold s =
    auto_prune_df(n):

    * NO shingle above s (no df ∝ n regime — the uniform fixtures
      through syn3, every driver SF): return s, i.e. EXACTLY the
      round-7 rule — the prune list is empty there, results are
      bit-identical, and the self-deactivation property that protects
      content-is-mid-df corpora is preserved.
    * boilerplate present (df > s exists — zipf-shaped corpora, real
      crawls): return the largest b in [floor, s] whose kept pair
      mass Sum_{floor<df<=b} C(df,2) stays within budget_per_doc * n
      (falling back to ``floor`` when even the smallest over-floor df
      exceeds it). The kept mass is then Theta(n) BY CONSTRUCTION —
      the decade-3 cliff (mass ~n^1.45 under the plain isqrt bound)
      cannot re-form at any scale.

    Recall: content shingles of true near-dups have df = O(1) <=
    floor on boilerplate-shaped corpora, so planted-pair recall is
    unaffected; what the budget trims is the zipf mid-frequency band
    — template 3-grams shared by hundreds of documents, which are not
    evidence of near-duplication (the C4/FineWeb stopwording
    reading, one band stronger).
    """
    s = auto_prune_df(n_docs)
    items = sorted(
        df_hist.items() if isinstance(df_hist, dict) else df_hist
    )
    if not any(df > s for df, _c in items):
        return s
    budget = int(budget_per_doc) * int(n_docs)
    bound = floor
    mass = 0
    for df, cnt in items:
        if df <= floor or df > s:
            continue
        mass += cnt * (df * (df - 1) // 2)
        if mass > budget:
            break
        bound = df
    return max(floor, bound)


def budget_prune_decision(
    n_docs: int,
    df_hist: dict[int, int] | list[tuple[int, int]],
    **kw,
) -> tuple[int, int]:
    """(bound, n_hot) from one histogram: n_hot is the exact number of
    shingles with df > bound, so 0 means nothing to prune. The single
    source of truth for BOTH the driver-side skip decision and the
    route :func:`df_pruned_shingles` takes for its filter
    (``__df > bound``). Keeping the predicate in one place means the
    strict '>' prune semantics cannot silently drift between the
    driver's "is there anything to prune" check and the relational
    filter (round-10 ADVICE)."""
    bound = budget_prune_bound(n_docs, df_hist, **kw)
    items = df_hist.items() if isinstance(df_hist, dict) else df_hist
    return bound, sum(c for df, c in items if df > bound)


def df_pruned_shingles(
    docs: DataFrame,
    bound: int,
    *,
    df_frame: DataFrame,
    n_hot: int,
) -> DataFrame:
    """Drop shingles whose corpus document frequency exceeds ``bound``
    from every document's shingle SET (docs = (__id, __h sorted
    array<long>) as built by ngram_jaccard_pairs_prefix).

    This changes the SIMILARITY SEMANTICS, deliberately: Jaccard is
    computed over content shingles only — shingle-level stopwording,
    the same move C4/FineWeb-style curation makes before dedup.
    Pruning the sets keeps the downstream join EXACT w.r.t. the pruned
    sets, so the result is order-independent and a SQL twin can replay
    it without reproducing Spark's hash order. Pairs that shared only
    boilerplate drop to J=0; near-dups that differed only in
    boilerplate can GAIN similarity — both are the intended reading at
    100 TB.

    ``df_frame`` is the PERSISTED (sh, __df) per-shingle
    document-frequency frame the caller's histogram was aggregated
    from, so the expensive parse+explode+agg lineage runs ONCE across
    the driver jobs instead of once per job (round-10 zipf30 repair:
    the budget fix moved the bottleneck from candidate mass to repeated
    lineage over the parse). ``n_hot`` is the exact number of its
    shingles above ``bound``, read off that histogram
    (:func:`budget_prune_decision`), so the route needs no size probe:

    - n_hot <= ``partitioning._MAX_DRIVER_ROWS``: one plain parallel
      collect of the hot list, bound into the plan as one parsed
      array_except literal (a py4j F.lit(list) round-trips per
      element, PERF.md r4) — zero shuffles.
    - above it: the distributed anti-join + re-agg fallback (two
      shuffles); the hot list (<= R/bound rows for R total shingle
      rows) is localCheckpointed eagerly.

    Either way ``df_frame`` is unpersisted before returning, so no
    session-lifetime cache of the full df relation survives.
    """
    from firmable_aus_etl_spark.operators import partitioning

    sh_df = df_frame.filter(F.col("__df") > bound).select("sh")
    if n_hot <= partitioning._MAX_DRIVER_ROWS:
        hot = sorted(r["sh"] for r in sh_df.collect())
        df_frame.unpersist(False)
        if not hot:
            return docs
        arr_sql = "array(" + ",".join(f"{h}L" for h in hot) + ")"
        return docs.select(
            "__id",
            F.array_sort(
                F.array_except(F.col("__h"), F.expr(arr_sql))
            ).alias("__h"),
        )
    # round-10 ADVICE: the returned plan's anti-join reads sh_df, so
    # keeping df_frame persisted for it would leak one row per distinct
    # shingle for the session. Materialize just the hot list (8 bytes
    # per row) via an eager localCheckpoint and release the wide frame;
    # the surviving cache entry is the small relation the anti-join
    # actually needs. (localCheckpoint is not fault-tolerant —
    # acceptable on a rare fallback path whose loss just re-runs the
    # query.)
    sh_df = sh_df.localCheckpoint(eager=True)
    df_frame.unpersist(False)
    # *_outer + null-drop: see ngram_jaccard_pairs (round-11). NOTE the
    # semantics nuance on THIS site: an inner explode would DROP docs
    # whose shingle set is empty, and the re-agg would lose them — the
    # outer explode keeps a null row for them, the null-drop removes it
    # before the anti-join, and such docs simply vanish from the pair
    # join exactly as before (they can never pair anyway).
    ex = docs.select("__id", F.explode_outer("__h").alias("sh")).filter(
        F.col("sh").isNotNull()
    )
    pruned = (
        ex.join(F.broadcast(sh_df), "sh", "left_anti")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("sh")).alias("__h"))
    )
    # Materialize the pruned frame ONCE (round-11, guide §5 reuse >
    # recompute): the caller's pipeline consumes this frame FOUR times
    # (prefix-join l/r + verify a/b), and each consumption would re-run
    # parse -> explode -> anti-join -> collect_list re-agg — measured at
    # zipf30 as the dominant repeated subtree of the ~1200 s wall. The
    # lazy localCheckpoint computes it in the first job that touches it
    # and serves the other three readers from storage; narrow rows
    # (id + pruned hash array), ContextCleaner-collected when the frame
    # goes out of scope (no session-lifetime CacheManager entry). Only
    # this over-ceiling path pays it — the literal path (every driver
    # SF) keeps its zero-materialization shape.
    return pruned.localCheckpoint(eager=False)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    prune_df: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via prefix filtering (PPJoin/Vernica).

    Same result set as :func:`ngram_jaccard_pairs`, asymptotically
    cheaper: under any global total order on shingles, a pair with
    J >= t must collide within the first ``|s| - ceil(t*|s|) + 1``
    shingles of each side, so only those prefixes enter the
    inverted-index join (:func:`jaccard_prefix_candidates`, hash
    order). Length and positional filters prune candidates before
    exact verification on the full distinct-shingle arrays.

    ``prune_df="auto"`` (round-7) is the skew lever: drop shingles
    with corpus df > bound from the shingle SETS before the join —
    shingle-level stopwording (see :func:`df_pruned_shingles`). The
    bound comes from corpus stats via :func:`budget_prune_bound`
    (round-10: isqrt detection + kept-mass budget — the plain isqrt
    bound's kept candidate mass measured ~n^1.45 at decade 3; the
    budget form is Theta(n) by construction and IDENTICAL to isqrt
    whenever no df ∝ n regime exists, which covers every driver
    fixture). The rule is SQL-replayable (integer histogram + window
    cumulative sum), so the data-dependent sizing itself sits under an
    oracle hash gate. Costs one count job + one df-histogram
    aggregate; the join stays exact w.r.t. the pruned sets. ``None``
    (the default) prunes nothing; any other value raises ValueError.
    """
    if prune_df not in (None, "auto"):
        raise ValueError(f"prune_df must be None or 'auto', got {prune_df!r}")
    # shingle_frame repartitions first (single-file inputs would run the
    # HOF on one core); immediately collapse each distinct-shingle set
    # to a SORTED array<long> of xxhash64 values — strings never leave
    # the map stage, so every shuffle/broadcast below moves 8-byte
    # tokens, and the sorted array doubles as the hash global order.
    # (Exactness caveat: a 64-bit collision between two distinct
    # shingles inside ONE compared pair could perturb a count — odds
    # ~|s|^2/2^64 per pair; the sf0.01 oracle hash-gate would surface
    # it. Same trade as every production fingerprint dedup.)
    shf = shingle_frame(df, id_col, text_col, shingle_n=shingle_n)
    docs = shf.select(
        "__id",
        F.array_sort(F.transform(F.col("__sh"), lambda s: F.xxhash64(s))).alias("__h"),
    )
    if prune_df == "auto":
        # detection branch skips the array_sort (df needs multiplicity,
        # not order) and recomputes the parse instead of caching docs
        # (PERF.md decision 29). The per-shingle df frame is persisted
        # across the detection's readers (round-10 zipf30 repair): the
        # histogram job below materializes it in ONE
        # parse+explode+agg pass, and on the boilerplate path the
        # hot-list collect and the returned plan's anti-join read the
        # cache instead of re-running that straggler-bound lineage
        # (measured: one extra parse pass costs ~230 s of a ~1030 s
        # query at zipf30). Narrow (16 bytes per distinct shingle),
        # spillable.
        # *_outer + null-drop: see ngram_jaccard_pairs (round-11)
        from pyspark import StorageLevel

        occ = shf.select(
            F.explode_outer(
                F.transform(F.col("__sh"), lambda s: F.xxhash64(s))
            ).alias("sh")
        ).filter(F.col("sh").isNotNull())
        dfs = (
            occ.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # df histogram: tiny relation (one row per distinct df value),
        # collected to derive the budget bound in exact integer
        # arithmetic; the SQL twin replays the identical computation
        # relationally (window cumulative sum). The histogram alone
        # also counts the shingles above the bound, so on corpora with
        # no boilerplate regime (every driver fixture) detection ends
        # here — no hot-list job (the round-10 bench A/B put the
        # hot-list-job-always shape at ~0.2 s of a 1.6 s query at
        # sf0.1) — and otherwise the count picks df_pruned_shingles'
        # route without a probe.
        hist = dfs.groupBy("__df").agg(F.count("*").alias("__cnt")).collect()
        bound, n_hot = budget_prune_decision(
            df.count(), [(r["__df"], r["__cnt"]) for r in hist]
        )
        if n_hot:
            docs = df_pruned_shingles(docs, bound, df_frame=dfs, n_hot=n_hot)
        else:
            dfs.unpersist(False)
    cand = jaccard_prefix_candidates(docs, threshold=threshold)
    a = docs.select(F.col("__id").alias("a_id"), F.col("__h").alias("__h_a"))
    b = docs.select(F.col("__id").alias("b_id"), F.col("__h").alias("__h_b"))
    inter = F.size(F.array_intersect(F.col("__h_a"), F.col("__h_b"))).cast("double")
    sza = F.size(F.col("__h_a")).cast("double")
    szb = F.size(F.col("__h_b")).cast("double")
    union = sza + szb - inter  # distinct arrays: |A∪B| = |A|+|B|-|A∩B|
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "a_id",
    dst: str = "b_id",
    nodes: DataFrame | None = None,
    node_id: str = "id",
    max_iter: int = 50,
    algorithm: str = "label",
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a distributed edge list.

    This is the clustering step of the dedup pipeline — near-dup PAIRS
    become dedup GROUPS (keep min-id representative per group). Each
    iteration is one or two distributed join + groupBy passes (no
    driver-side graph); the driver only coordinates the loop and
    checks convergence, the standard Spark idiom for iterative
    algorithms. Per-round materialization truncates lineage so plan
    depth stays O(1) per iteration; ``checkpoint_dir`` switches it
    from localCheckpoint (fast, dies with an executor) to reliable
    checkpoint() (survives executor loss — set it to durable storage
    for 100 TB runs; identical results either way, asserted in
    tests/test_dedup.py). See partitioning.iter_materialize.

    ``algorithm``:

    - ``"label"`` (default): min-label propagation — each node's label
      starts as its own id and iteratively becomes the minimum label
      among itself and its neighbors, until a fixpoint. Rounds =
      graph DIAMETER; near-dup clusters are small and dense, so this
      converges in a few rounds and each round is the cheaper of the
      two algorithms. Propagation runs TWO steps per materialized job
      (see the loop comment), so up to ``max_iter`` rounded UP to even
      steps execute — the bound is on work, convergence is exact.
    - ``"star"``: alternating large-star/small-star edge contraction
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC 2014). Each pass rewires edges toward the
      neighborhood minimum (large-star: strictly larger neighbors;
      small-star: smaller-or-equal ones), halving component height —
      O(log^2 n) rounds regardless of diameter. Use the moment dedup
      graphs contain long chains (URL redirect chains, co-citation
      paths) where label propagation would crawl through
      diameter-many rounds at 100 TB.

    Small graphs finish on the driver: when the materialized edge set
    has at most ``partitioning._MAX_DRIVER_ROWS`` rows, the size probe
    that found out has already fetched it, and union-find returns the
    same labeling as a local relation (plus the ``nodes`` singletons).
    At sf0.01 this replaces a loop whose every round is AQE stage jobs
    at ~60-100 ms each for a few dozen edges (PERF.md). Larger edge
    sets run the loops below over the same materialized edges.

    Edges with an endpoint outside ``nodes`` are ignored by both
    algorithms on both routes, and such endpoints never appear in the
    output; self-loops and duplicate or reversed edges are tolerated.

    ``stats`` (optional dict) receives ``route`` ("driver" or
    "distributed"), ``edges`` (the directed edge rows on the driver
    route; None on the distributed route, which does not count them)
    and ``rounds`` (0 on the driver route) — the telemetry the chain
    tests assert on.

    Returns (node_id, cluster) where cluster = min node id reachable —
    fully deterministic (both algorithms produce the identical
    labeling), so the output is oracle-hashable (DuckDB twin:
    recursive-CTE reachability + min).
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # materialize the edge set ONCE: the loop joins `und` every round,
    # and without this the full upstream pair computation (e.g. the
    # prefix-Jaccard join) re-executes per iteration — measured 8.4s ->
    # 3.6s at sf0.1 for near_dup_clusters (edges dominate; rounds are
    # cheap). Same move MLlib/GraphX make before iterating.
    from firmable_aus_etl_spark.operators.partitioning import (
        collect_small,
        iter_materialize,
        iter_release,
        iter_unpersist,
    )

    directed = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    if nodes is None:
        node_frame = None
    else:
        node_frame = nodes.select(F.col(node_id)).distinct()
        # keep only edges inside the caller's node universe, so no
        # route or algorithm can bridge components through (or label)
        # an outside endpoint
        for end in ("x", "y"):
            directed = directed.join(
                node_frame.select(F.col(node_id).alias(end)), end, "left_semi"
            )
        directed = directed.select("x", "y")
    # Materialize the DIRECTED edges, then build the symmetric view from
    # the cached frame (round-7): a union whose two branches both hang
    # off the raw edge plan executes the whole upstream pair pipeline
    # TWICE inside the materializing job — exchange reuse does not
    # deduplicate the differently-projected branches (measured at syn3:
    # prefix-Jaccard edges cost 138 s standalone, the old clusters
    # query booked 293 s ≈ 2 x edges + rounds).
    # (two-layer materialization: und itself is ALSO materialized so
    # the per-round neighbor joins read one cached frame instead of
    # re-unioning two cache scans per propagate step — measured
    # 1.7 -> 2.5 s at sf0.1 without it)
    # eager=False still runs every upstream shuffle stage here under
    # AQE (see iter_materialize); the probe's job computes the blocks.
    directed = iter_materialize(directed, checkpoint_dir, eager=False)
    rows = collect_small(directed, "connected_components: edge probe")
    if rows is not None:
        # the returned local relation does not read `directed`
        iter_release(directed, checkpoint_dir)
        if stats is not None:
            stats.update(route="driver", edges=len(rows), rounds=0)
        return _components_on_driver(
            directed, rows, node_frame, node_id=node_id
        )
    if stats is not None:
        stats.update(route="distributed", edges=None)
    und = iter_materialize(
        directed.union(
            directed.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ),
        checkpoint_dir,
        eager=False,
    )
    if node_frame is None:
        node_frame = und.select(F.col("x").alias(node_id)).distinct()
    if algorithm == "star":
        out = _connected_components_star(
            und, node_frame, node_id=node_id, max_iter=max_iter, stats=stats,
            checkpoint_dir=checkpoint_dir,
        )
        # the star loop ran its convergence actions, so every
        # checkpoint below is materialized — the edge caches are now
        # pure speedup for recompute that will never happen (the
        # LogicalRDD leaves read checkpoint files). Release them so a
        # long-lived session ends the call with zero residual cache.
        iter_unpersist(und, checkpoint_dir)
        iter_unpersist(directed, checkpoint_dir)
        return out
    # Iterate over EDGE-PARTICIPATING nodes only: a node with no edges
    # can never change its label, yet carrying it through the loop
    # would shuffle the whole corpus every round — on a dedup graph
    # where 1% of docs have a near-dup, that is 100x wasted shuffle
    # volume per round at 100 TB. Singletons rejoin as self-labels at
    # the end (one anti-join), the same assembly the star variant uses.
    # (every edge endpoint is already inside the node universe)
    edge_nodes = und.select(F.col("x").alias(node_id)).distinct()
    labels = edge_nodes.select(node_id, F.col(node_id).alias("cluster"))

    def propagate(lbl: DataFrame, *, keep_old: bool = False) -> DataFrame:
        neighbor_min = (
            und.join(lbl, und["y"] == lbl[node_id])
            .groupBy("x")
            .agg(F.min("cluster").alias("nbr"))
        )
        new_cluster = F.least(
            F.col("cluster"), F.coalesce(F.col("nbr"), F.col("cluster"))
        ).alias("cluster")
        out = [lbl[node_id], new_cluster]
        if keep_old:
            out.append(F.col("cluster").alias("__old"))
        return lbl.join(
            neighbor_min, lbl[node_id] == neighbor_min["x"], "left"
        ).select(*out)

    rounds = 0
    prev_mat: DataFrame | None = None
    for _ in range(max(1, (max_iter + 1) // 2)):
        # TWO propagation steps per materialization (round-6): each
        # loop turn chains two join+agg rounds into one lineage, then
        # the EXACT convergence check rides on the materialized frame —
        # under AQE the eager=False call itself runs the turn's shuffle
        # stages (one job each, see iter_materialize) and the
        # changed-count computes AND persists the blocks, so a turn
        # pays one set of stage jobs for two rounds (halves job-submit
        # latency, the dominant per-round cost; shuffle volume per
        # round unchanged). The convergence check compares
        # the LAST PAIR of steps (step k vs step k-1), not step k vs
        # the turn start (round-7): labels are monotone non-increasing,
        # so zero change between consecutive steps iff step k-1 was
        # already a fixpoint — exact, and it detects convergence a full
        # turn earlier whenever the fixpoint lands mid-turn. Near-dup
        # graphs are clique-shaped (diameter 1: step 1 assigns every
        # node the clique min, step 2 changes nothing), so the whole
        # propagation is ONE Spark job there, vs two under the
        # turn-start comparison (measured: sf0.01 and sf0.1 documents
        # both converge at step 1).
        rounds += 2
        s1 = propagate(labels.select(node_id, "cluster"))
        new_full = iter_materialize(
            propagate(s1, keep_old=True), checkpoint_dir, eager=False
        )
        changed = new_full.filter(F.col("cluster") != F.col("__old")).count()
        # reliable path: the previous round's cache is now dead weight
        # (its durable copy lives in the checkpoint files)
        iter_unpersist(prev_mat, checkpoint_dir)
        prev_mat = new_full
        labels = new_full.select(node_id, "cluster")
        if changed == 0:
            break
    if stats is not None:
        # upper bound: convergence may have landed on the first of the
        # two steps in the final turn
        stats["rounds"] = rounds
    # every frame below is checkpointed by the loop's count() actions;
    # the caches only serve recomputation that can no longer happen, so
    # the reliable path exits with zero residual cache entries (tested:
    # test_reliable_checkpoint_cache_stays_bounded).
    iter_unpersist(prev_mat, checkpoint_dir)
    iter_unpersist(und, checkpoint_dir)
    iter_unpersist(directed, checkpoint_dir)
    singletons = node_frame.join(labels.select(node_id), node_id, "left_anti")
    return labels.unionByName(
        singletons.select(node_id, F.col(node_id).alias("cluster"))
    )


def _components_on_driver(
    directed: DataFrame,
    rows: list,
    node_frame: DataFrame | None,
    *,
    node_id: str,
) -> DataFrame:
    """connected_components' driver route: the min-reachable-id labeling
    of the collected edge rows by union-find, as a local relation.
    Linking the larger root under the smaller keeps every root its
    component's minimum id. With a node frame, every node without an
    edge joins as its own cluster, as on the distributed route."""
    from firmable_aus_etl_spark.operators.partitioning import local_frame

    parent: dict = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]  # path halving
            v = parent[v]
        return v

    for x, y in rows:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    id_type = directed.schema["x"].dataType
    labels = local_frame(
        directed.sparkSession,
        [(v, find(v)) for v in parent],
        StructType([StructField(node_id, id_type), StructField("cluster", id_type)]),
    )
    if node_frame is None:
        return labels
    return node_frame.join(F.broadcast(labels), node_id, "left").select(
        node_id, F.coalesce("cluster", node_id).alias("cluster")
    )


def _connected_components_star(
    und: DataFrame,
    node_frame: DataFrame,
    *,
    node_id: str,
    max_iter: int,
    stats: dict | None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Alternating large-star/small-star contraction over an
    undirected edge view ``und`` = (x, y) with both orientations
    present. Per Kiveris et al. SoCC 2014:

      large-star(u): for every neighbor v > u, emit (v, m)
      small-star(u): for every neighbor v <= u, emit (v, m) and (u, m)
      where m = min(N(u) ∪ {u})

    Each pass is one groupBy (neighborhood min) + one join (re-emit) —
    both shuffle on the node id, identical machinery to a round of
    label propagation, but component height halves per pass instead of
    shrinking by one, so convergence is O(log^2 n) rounds on ANY graph
    shape, including diameter-n chains. Self-loops (x = min) are
    dropped each pass; convergence = the edge set stops changing:
    a count + order-insensitive xxhash64 checksum (one tiny aggregate
    job per round) is the cheap pre-check, and a signature match is
    CONFIRMED by one exact left-anti join before terminating — a
    hash-sum collision between different successive edge sets can
    therefore delay convergence detection by a round but can never
    end the loop early with a wrong labeling.

    At fixpoint every surviving edge is (node, component-min): the
    star. Labels = those edges + a self-label for every node not on
    the non-root side (roots and isolated nodes)."""
    from firmable_aus_etl_spark.operators.partitioning import (
        iter_materialize,
        iter_unpersist,
    )

    cur = iter_materialize(
        und.filter(F.col("x") != F.col("y")).distinct(), checkpoint_dir,
        eager=False,
    )

    def edge_sig(e: DataFrame):
        return e.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("x", "y").cast("decimal(38,0)")).alias("sig"),
        ).collect()[0]

    def star_pass(e: DataFrame, large: bool) -> DataFrame:
        sym = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        mins = sym.groupBy("x").agg(
            F.least(F.min("y"), F.first("x")).alias("m")
        )
        joined = sym.join(mins, "x")
        if large:
            out = joined.filter(F.col("y") > F.col("x")).select(
                F.col("y").alias("x"), F.col("m").alias("y")
            )
        else:
            out = joined.filter(F.col("y") <= F.col("x")).select(
                F.col("y").alias("x"), F.col("m").alias("y")
            ).union(mins.select(F.col("x"), F.col("m").alias("y")))
        # eager=False: the pass's shuffle stages run at this call
        # under AQE (see iter_materialize); the edge-signature
        # aggregate that follows every pass computes the blocks
        return iter_materialize(
            out.filter(F.col("x") != F.col("y")).distinct(), checkpoint_dir,
            eager=False,
        )

    rounds = 0
    prev = edge_sig(cur)
    prev_frame = cur
    for _ in range(max_iter):
        rounds += 1
        mid = star_pass(cur, large=True)
        nxt = star_pass(mid, large=False)
        sig = edge_sig(nxt)
        # reliable path: the large-star intermediate is consumed once
        # and the (round-2)'th frame is no longer referenced (prev_frame
        # still backs the convergence confirm); drop their caches —
        # durable copies live in the checkpoint files (round-6 ADVICE).
        iter_unpersist(mid, checkpoint_dir)
        if (sig["n"], sig["sig"]) == (prev["n"], prev["sig"]):
            # exact confirmation: equal counts + empty one-sided
            # difference of two DISTINCT sets => set equality. Runs
            # only on signature match, so the per-round cost stays
            # one 1-row aggregate.
            if nxt.join(prev_frame, ["x", "y"], "left_anti").limit(1).count() == 0:
                iter_unpersist(prev_frame, checkpoint_dir)
                cur = nxt
                break
        # prev_frame == cur at every iteration start; once nxt replaces
        # it nothing references the old frame again
        iter_unpersist(cur, checkpoint_dir)
        prev = sig
        prev_frame = cur = nxt
    if stats is not None:
        stats["rounds"] = rounds
    # cur's checkpoint is materialized (edge_sig ran on it); release
    # the final cache so the reliable path exits cache-clean
    iter_unpersist(cur, checkpoint_dir)
    # fixpoint edges are (node, root) stars; x > y always holds here
    star_labels = cur.select(
        F.col("x").alias(node_id), F.col("y").alias("cluster")
    )
    self_labels = node_frame.join(
        star_labels.select(node_id), node_id, "left_anti"
    ).select(node_id, F.col(node_id).alias("cluster"))
    return star_labels.union(self_labels)


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-doc repeated-SPAN removal at sliding n-gram granularity —
    the finer-grained sibling of the C4-style fixed-segment remover
    (q_remove_repeated_segments): a shared span is caught at ANY token
    offset, not only on segment boundaries, so shifted boilerplate
    (navigation chrome mid-page, license footers after variable
    headers) is removed too.

    Semantics: every SLIDING n-gram occurring in >= ``min_docs``
    distinct documents is boilerplate; a token is removed iff it is
    covered by at least one boilerplate n-gram (i.e. some flagged
    start lies within the previous n-1 positions); survivors
    reassemble in position order. Returns (id, cleaned, n_removed).

    Equivalence note: because any repeated substring of length >= n
    contains an n-gram that repeats with it, n-gram coverage removal
    removes EXACTLY the tokens inside cross-doc repeated substrings of
    length >= n — the same semantics suffix-array training-data dedup
    targets (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022, min-length-50 substrings), expressed as
    two shuffles instead of a monolithic suffix array. The within-doc
    sibling is :func:`remove_within_doc_repeats`.

    Plan shape (scale notes):
      1. gram frequency: one groupBy on the n-gram string; the
         boilerplate set (nd >= min_docs) is corpus-wide small by
         nature, so it broadcast-joins back to the starts — same move
         as the segment remover's blocklist.
      2. coverage: per-token rows (posexplode) left-join the flagged
         starts on (doc, pos), then ONE window per doc computes
         covered = max(flag) over rangeBetween(-(n-1), 0) — O(len)
         per doc regardless of how much of the doc is boilerplate (an
         exists()-over-starts HOF would be O(len * starts), quadratic
         on fully-templated docs).
      3. reassembly: groupBy(doc) is already partitioned by the
         window's key, so AQE reuses the exchange; order restored via
         sort_array(collect_list(struct(pos, token))) — deterministic
         under any partitioning.

    reference scope: SURVEY §4 custom work (LLM-pipeline dedup
    family); extends remove_repeated_segments' fixed-granularity
    semantics to arbitrary-offset spans.
    """
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    # single-file inputs would run the tokenize + gram explode of every
    # downstream branch on one core (conditional — no-op at scale);
    # A/B at sf0.1: 1.74 -> 1.14 s
    toks = span_tokens(ensure_parallelism(df, id_col), id_col, text_col)
    # gram strings (~n tokens each) never leave the map stage: the
    # frequency groupBy and the boilerplate join run on xxhash64 keys —
    # 8-byte shuffle rows instead of ~50-byte strings (the same move as
    # ngram_jaccard_pairs_prefix; same 2^-64 collision caveat, surfaced
    # by the oracle hash gate)
    starts = span_starts(toks, n=n).select(
        "__id", "i", F.xxhash64("g").alias("gh")
    )
    boiler = F.broadcast(
        starts.groupBy("gh")
        .agg(F.count_distinct("__id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    dup_starts = starts.join(boiler, "gh").select(
        "__id", F.col("i").alias("p"), F.lit(1).alias("__dup")
    )
    rebuilt = span_rebuild(toks, dup_starts, n=n)
    return df.select(F.col(id_col).alias("__id")).join(
        rebuilt, "__id", "left"
    ).select(
        F.col("__id").alias(id_col),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )


def span_tokens(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(__id, __w token array) — the normalized token frame span
    removal operates on; shared by the one-shot operator and the
    incremental view so both see identical tokenization."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.split(F.lower(F.trim(F.col(text_col))), " ").alias("__w"),
    )


def span_starts(toks: DataFrame, *, n: int) -> DataFrame:
    """(__id, i, g) sliding n-gram start postings from a span_tokens
    frame — guards Spark's descending-sequence pitfall for docs
    shorter than n."""
    idx = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    return toks.select("__id", "__w", F.explode(idx).alias("i")).select(
        "__id", "i", F.concat_ws(" ", F.slice("__w", F.col("i"), n)).alias("g")
    )


def span_rebuild(
    toks: DataFrame, dup_starts: DataFrame, *, n: int
) -> DataFrame:
    """Coverage + position reassembly given (__id, __w) tokens and
    (__id, p, __dup) flagged span starts: a token is removed iff some
    flagged start lies within its previous n-1 positions (ONE
    rangeBetween window per doc), survivors concat in position order.
    Returns (__id, cleaned, n_removed). Shared by remove_repeated_spans
    and the incremental span view (identical semantics by
    construction)."""
    positions = toks.select(
        "__id", F.posexplode("__w").alias("p0", "tok")
    ).select("__id", (F.col("p0") + 1).alias("p"), "tok")
    flagged = positions.join(dup_starts, ["__id", "p"], "left").select(
        "__id", "p", "tok", F.coalesce("__dup", F.lit(0)).alias("__dup")
    )
    w_cover = (
        Window.partitionBy("__id").orderBy("p").rangeBetween(-(n - 1), 0)
    )
    covered = flagged.withColumn("cov", F.max("__dup").over(w_cover))
    return covered.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("cov") == 0, F.struct("p", "tok"))
                    )
                ),
                lambda x: x.tok,
            ),
        ).alias("cleaned"),
        F.sum("cov").cast("long").alias("n_removed"),
    )


def remove_within_doc_repeats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """WITHIN-doc repeated-span removal — the self-repetition sibling
    of :func:`remove_repeated_spans` (together they cover the
    within/cross-doc span-dedup pair): an n-gram occurring >=
    ``min_count`` times inside ONE document keeps its FIRST occurrence
    and every LATER occurrence's coverage is removed (looped template
    blocks, stuck-generation repeats, copy-pasted paragraphs).

    Keep-first semantics: a start is flagged iff its position is not
    the gram's minimal position within the doc (and the gram repeats
    at least min_count times there); coverage/reassembly are the same
    span_rebuild pass as the cross-doc operator. One groupBy on
    (doc, gram) — partitioned BY DOC, so unlike the cross-doc
    frequency pass this never shuffles on a corpus-wide key; the rest
    stays doc-local. Returns (id, cleaned, n_removed).
    """
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    toks = span_tokens(ensure_parallelism(df, id_col), id_col, text_col)
    starts = span_starts(toks, n=n)
    per_doc = starts.groupBy("__id", "g").agg(
        F.count("*").alias("cnt"), F.min("i").alias("first_i")
    )
    dup_starts = (
        starts.join(per_doc, ["__id", "g"])
        .filter((F.col("cnt") >= min_count) & (F.col("i") > F.col("first_i")))
        .select("__id", F.col("i").alias("p"), F.lit(1).alias("__dup"))
    )
    rebuilt = span_rebuild(toks, dup_starts, n=n)
    return df.select(F.col(id_col).alias("__id")).join(
        rebuilt, "__id", "left"
    ).select(
        F.col("__id").alias(id_col),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )
