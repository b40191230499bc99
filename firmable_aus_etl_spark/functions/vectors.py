"""Vector-similarity functions over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; the scale path is
LSH bucketing (random-hyperplane signs) which turns the all-pairs
search into an equi-join on bucket signatures — the same
blocking-as-equi-join move as the fuzzy matcher (SURVEY §4 custom work
#4), applied to vectors.

Each operator has one implementation, chosen by a recorded A/B
(PERF.md decisions 15, 18 and 19): F.aggregate/F.zip_with expression
folds where the interpreted fold wins (multi-probe plane dots, exact
per-pair cosines), one Arrow-batched numpy matmul per batch
(mapInPandas) for sign-LSH signatures, centroid assignment and the
within-cell gram-matrix verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from firmable_aus_etl_spark.operators.windows import topk_per_group


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns (double math)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def linf_norm(a: Column) -> Column:
    """max|x| — the scale basis for symmetric int8 quantization."""
    return F.aggregate(
        F.transform(a, lambda x: F.abs(x)),
        F.lit(0.0).cast("float"),
        lambda acc, v: F.greatest(acc, v),
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    partition_cond: Column | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score, window top-k per query.

    At scale the corpus side stays partitioned and never shuffles — the
    join is broadcast-nested-loop over the query set, then the top-k
    window shuffles only (query_id, k) survivors. ``partition_cond``
    restricts candidate pairs (e.g. same label / same IVF cell).
    """
    # norms are hoisted to ONE fold per ROW on each side, so the
    # per-pair score is a single dot fold instead of three aggregates
    # (the norms would otherwise re-fold for every pair) —
    # bit-identical to cosine(): same fold orders, same two doubles
    # multiplied
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        *[c for c in queries.columns if c not in (query_id, vec_col)],
    )
    if broadcast_queries:
        q = F.broadcast(q)
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    # the per-pair cosine is the heavy map on the corpus side; never let
    # a single input file serialize it (no-op when the scan is wide)
    c = ensure_parallelism(corpus, corpus_id).select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        *[c2 for c2 in corpus.columns if c2 not in (corpus_id, vec_col)],
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if partition_cond is not None:
        cond = cond & partition_cond
    scored = q.join(c, on=cond).withColumn(
        "cosine",
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    out = topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )
    return out.drop("__qv", "__cv", "__qn", "__cn")


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Sign-bit signature of a vector against fixed hyperplanes -> bigint.

    Deterministic (planes are literals baked into the plan): bucket key
    for LSH-ANN. bit_i = (v · p_i) >= 0.
    """
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, _array_lit(p), lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(F.shiftleft((d >= 0).cast("long"), i))
    return sig


def make_planes(dim: int, n_planes: int, *, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy RNG state
    so the same literals appear in plan and tests)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _array_lit(values: list[float]) -> Column:
    """Double-array literal as ONE parsed SQL expression. F.lit(list)
    round-trips py4j once per ELEMENT (measured ~1.5 s for a 42x64
    matrix), so every literal vector/matrix in this module goes
    through here. repr() floats round-trip exactly — plan literals
    are bit-identical to the F.lit form."""
    return F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")")


def _dot_literal(vec: Column, plane: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(vec, _array_lit(plane), lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(vec: Column, centroids: list[list[float]], *, nprobe: int = 1) -> Column:
    """Cell ids (array<int>, best-first, length nprobe) by dot-product
    proximity to fixed centroids. Deterministic: ties resolved by the
    stable sort on (-dot, cell_id)."""
    dots = F.array(*[_dot_literal(vec, c) for c in centroids])
    ranked = F.array_sort(
        F.transform(
            dots,
            lambda d, i: F.struct((-d).alias("nd"), i.alias("cell")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"])


def cell_means(assigned: DataFrame) -> DataFrame:
    """Element-wise mean per cell of an (cell, __v array<double>) frame
    as (cell, pos, m) — posexplode + groupBy(cell, pos): one
    map-side-combinable shuffle whose plan is IDENTICAL at dim 64 and
    dim 4096 (the label_centroids_embeddings pattern; plan-asserted in
    tests/test_plans.py)."""
    return (
        assigned.select("cell", F.posexplode("__v").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.avg("val").alias("m"))
    )


def kmeans_centroids(
    df: DataFrame,
    *,
    dim: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    seed: int = 7,
) -> list[list[float]]:
    """Deterministic spherical k-means centroids for IVF cell training.

    Lloyd's iterations, Spark-first: assignment is the same
    literal-centroid argmax expression ivf_assign uses (codegen, no
    Python), the per-cell mean is ONE posexplode + groupBy(cell, pos)
    aggregation (map-side partial agg -> k*dim rows cross the wire) —
    a single shuffle regardless of dimension, instead of ``dim``
    separate avg columns whose expression count explodes at embedding
    dims (768+). Only the k x dim centroid matrix is collected to the
    driver per iteration — model state, the one thing that SHOULD live
    driver-side (MLlib's KMeans does exactly this each step).

    Determinism: init = the k vectors with the smallest
    ``xxhash64(id)`` (a seeded, order-independent sample); every
    iteration's centroids are rounded to 6 decimals so partial-agg
    float-order noise cannot accumulate into different assignments
    across runs; empty cells keep their previous centroid. Centroids
    are unit-normalized (cosine / spherical k-means).

    At 100 TB: train on a hash-sample (``WHERE xxhash64(id) % m = 0``)
    — centroid quality converges long before the full corpus is seen;
    assignment of the full corpus stays one narrow map.
    """
    # rows are assigned on RAW vectors: argmax of dot against UNIT
    # centroids is scale-invariant, so per-row normalization (an
    # O(dim^2) interpreted subtree per row) is unnecessary — only the
    # k centroids are normalized, driver-side.
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # decouple from input file layout: a single parquet file would run
    # every interpreted dot product on one core (no-op on wide scans)
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    df = ensure_parallelism(df, id_col)

    def _unit(v: list[float]) -> list[float]:
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [round(x / n, 6) for x in v]

    init = (
        df.select(F.xxhash64(F.col(id_col) + F.lit(seed)).alias("__h"), dvec.alias("__v"))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = [_unit([float(x) for x in r["__v"]]) for r in init]
    for _ in range(iters):
        assigned = df.select(
            ivf_assign(F.col(vec_col), centroids, nprobe=1)[0].alias("cell"),
            dvec.alias("__v"),
        )
        means = cell_means(assigned).collect()
        new: dict[int, list[float]] = {}
        for r in means:
            new.setdefault(r.cell, [0.0] * dim)[r.pos] = float(r.m)
        centroids = [
            _unit(new[ci]) if ci in new else centroids[ci]  # empty cell: keep
            for ci in range(k)
        ]
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their single nearest cell;
    queries probe their ``nprobe`` nearest cells; exact cosine re-ranks
    within probed cells.

    Scale shape: the corpus partitions by cell (one narrow map + one
    hash shuffle at index-build time, amortized across queries); each
    query touches nprobe/n_cells of the corpus. Default centroids are
    deterministic pseudo-random directions; pass
    ``kmeans_centroids(...)`` output for data-trained cells (better
    recall at the same nprobe — cells follow the data's density).

    ``cell_cap`` bounds HOT-CENTROID skew (SKEW.md): a cell holding a
    large fraction of the corpus would put its entire population
    through one join key — one reducer task owns half the data (the
    IVF analog of a hot join key; whole-vector k-means retraining
    does NOT disperse a tight blob, measured in
    tests/test_vectors.py). With a cap, each over-cap cell is salted
    into ceil(size/cap) deterministic shards (xxhash64 of the corpus
    id); queries probing that cell fan out to every shard. Candidate
    SET and results are identical — only the join-key population is
    re-sharded, so per-task fan-in is bounded by ~cap regardless of
    the data's density profile. Costs one bounded size collect
    (<= n_cells rows) + a checkpoint of the assigned corpus.
    """
    if centroids is None:
        # unit-normalize: raw LCG directions have varying norms, which
        # would bias the dot-product argmax toward long centroids
        raw = make_planes(dim, n_cells, seed=seed)
        centroids = [
            [x / (sum(v * v for v in c) ** 0.5) for x in c] for c in raw
        ]
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(ivf_assign(F.col(vec_col), centroids, nprobe=nprobe)).alias("cell"),
    )
    # corpus assignment is the heavy map (n_cells dots per row) — don't
    # inherit a single input file's one-partition layout (no-op at scale)
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    c = ensure_parallelism(corpus, corpus_id).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        ivf_assign(F.col(vec_col), centroids, nprobe=1)[0].alias("cell"),
    )
    join_keys = ["cell"]
    if cell_cap is not None:
        import math

        # the assigned corpus feeds both the size pass and the join —
        # materialize so the n_cells-dot assignment map runs once
        c = c.localCheckpoint()
        sizes = {
            r["cell"]: r["cnt"]
            for r in c.groupBy("cell").agg(F.count("*").alias("cnt")).collect()
        }
        salts = [
            max(1, math.ceil(sizes.get(i, 0) / cell_cap))
            for i in range(len(centroids))
        ]
        salt_arr = F.expr("array(" + ", ".join(str(x) for x in salts) + ")")
        n_salt = F.element_at(salt_arr, F.col("cell") + 1)
        c = c.withColumn(
            "__salt", F.pmod(F.xxhash64("neighbor_id"), n_salt).cast("int")
        )
        q = q.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), (n_salt - 1).cast("int"))),
        )
        join_keys = ["cell", "__salt"]
    scored = (
        q.join(c, on=join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .distinct()
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    ).drop("__qv", "__cv")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: candidates = bucket-collisions in any of
    ``n_tables`` sign-LSH tables, then exact re-rank.

    Scale shape: signatures are a narrow map; the candidate join is an
    equi-join on (table, signature) — a hash shuffle whose width is
    controlled by n_planes (bucket granularity) — and the exact cosine
    runs only on candidates. Recall grows with n_tables.
    """
    tables = [
        make_planes(dim, n_planes, seed=seed + 1000 * t) for t in range(n_tables)
    ]
    # Flat literal plane matrix -> ONE transform computes all
    # n_tables*n_planes dot products per row; per-table signatures then
    # fold the materialized dot array. (n_tables separate
    # hyperplane_signature expressions each duplicating the dot
    # subtrees run interpreted and measured ~10s for 500 rows.) The
    # matrix literal itself parses as one SQL expression — see
    # _array_lit for the py4j construction-cost rationale.
    flat_planes = [p for planes in tables for p in planes]
    all_planes = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in p) + ")"
            for p in flat_planes
        )
        + ")"
    )

    def sig_frame(df: DataFrame, idc: str, idalias: str) -> DataFrame:
        dotted = df.select(
            F.col(idc).alias(idalias),
            F.col(vec_col).alias(f"__{idalias}_v"),
            F.transform(
                all_planes,
                lambda p: F.aggregate(
                    F.zip_with(F.col(vec_col), p, lambda a, b: a.cast("double") * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            ).alias("__dots"),
        )
        def table_sig(t: int):
            def step(acc, i):
                bit = (F.element_at(F.col("__dots"), i + 1 + t * n_planes) >= 0).cast("long")
                return acc + bit * F.pow(F.lit(2.0), i).cast("long")

            return F.aggregate(
                F.sequence(F.lit(0), F.lit(n_planes - 1)), F.lit(0).cast("long"), step
            )

        sigs = [table_sig(t) for t in range(n_tables)]
        return dotted.select(
            idalias,
            f"__{idalias}_v",
            F.posexplode(F.array(*sigs)).alias(f"__{idalias}_table", f"__{idalias}_sig"),
        )

    qs = sig_frame(queries, query_id, "query_id")
    cs = sig_frame(corpus, corpus_id, "neighbor_id")
    cand = (
        qs.join(
            cs,
            on=[
                F.col("__query_id_table") == F.col("__neighbor_id_table"),
                F.col("__query_id_sig") == F.col("__neighbor_id_sig"),
                F.col("query_id") != F.col("neighbor_id"),
            ],
        )
        .select("query_id", "neighbor_id", "__query_id_v", "__neighbor_id_v")
        .distinct()
    )
    scored = cand.withColumn("cosine", cosine(F.col("__query_id_v"), F.col("__neighbor_id_v")))
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    ).drop("__query_id_v", "__neighbor_id_v")


def multiprobe_flipsets(n_planes: int, max_flip: int = 2) -> list[list[int]]:
    """Bit-index flip sets of size 0..max_flip in (size, lexicographic)
    order — the probe universe of query-directed multi-probe LSH
    (Lv et al., VLDB'07). Shared by the Spark operator and the SQL
    oracle generator so both rank the identical universe."""
    out: list[list[int]] = [[]]
    out += [[b] for b in range(n_planes)]
    if max_flip >= 2:
        out += [[a, b] for a in range(n_planes) for b in range(a + 1, n_planes)]
    return out


def auto_n_planes(
    n: int, *, target_occupancy: int = 16, min_planes: int = 6,
    max_planes: int | None = None,
) -> int:
    """Occupancy-targeted plane count: the smallest ``np`` with expected
    bucket width ``n / 2^np <= target_occupancy`` — i.e.
    ceil(log2(n / target)), computed in PURE INTEGER arithmetic
    (``(ceil(n/target) - 1).bit_length()``) so an SQL oracle can
    re-derive the identical count with integer threshold comparisons
    and no libm log2 whose last-ulp rounding could differ between
    engines at exact power-of-two boundaries.

    UNBOUNDED above by default (round-8 lesson: any silent clamp on a
    size-derived rule is a future cliff — the max_planes=12 bake cost
    287.7 s at syn10 before it was caught). Two bounds remain, both
    LOUD and law-derived, never silent:

      * 62 planes — the BIGINT signature word (1 << plane); reachable
        only past target * 2^62 vectors. Raises.
      * ``max_planes`` when a caller passes one — the capacity of an
        oracle-side baked plane matrix, NOT a tuning knob. Sizing past
        it raises (the SQL twin's CASE mirrors with ELSE NULL), so a
        saturating configuration fails a run instead of silently
        running quadratic."""
    raw = (max(1, -(-n // max(1, target_occupancy))) - 1).bit_length()
    np_ = max(min_planes, raw)
    if np_ > 62:
        raise ValueError(
            f"auto_n_planes: {np_} planes (n={n}) exceeds the 62-bit "
            "signature word"
        )
    if max_planes is not None and np_ > max_planes:
        raise ValueError(
            f"auto_n_planes saturated: occupancy-sized count {np_} "
            f"(n={n}, target={target_occupancy}) exceeds the baked "
            f"oracle-matrix capacity {max_planes}; widen the matrix — "
            "do NOT clamp (round-8 lesson)"
        )
    return np_


def lsh_topk_auto(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    target_occupancy: int = 16,
    min_planes: int = 6,
    max_planes: int | None = None,
    **kwargs,
) -> DataFrame:
    """Occupancy-targeted single-probe sign-LSH: sizes ``n_planes``
    from the corpus count via :func:`auto_n_planes` (the SCALING.md
    production rule — constant expected occupancy keeps candidate-join
    fan-out ~linear in n instead of quadratic), then delegates to
    :func:`lsh_topk`. make_planes is PREFIX-STABLE in n_planes (the
    LCG stream is sequential), so auto-sizing just chooses how many of
    the same deterministic planes participate — which is what makes
    the count-derived SQL oracle possible (queries.py replays the
    clamp rule as integer CASE thresholds over count(*))."""
    n = corpus.count()
    return lsh_topk(
        queries, corpus, dim=dim,
        n_planes=auto_n_planes(
            n, target_occupancy=target_occupancy,
            min_planes=min_planes, max_planes=max_planes,
        ),
        **kwargs,
    )


def lsh_multiprobe_topk_auto(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    target_occupancy: int = 16,
    min_planes: int = 6,
    max_planes: int | None = None,
    **kwargs,
) -> DataFrame:
    """Occupancy-targeted multi-probe LSH: sizes ``n_planes`` from the
    corpus so expected bucket width stays ~``target_occupancy``
    regardless of corpus size — the SCALING.md finding productized
    (pinned planes=7 measured alpha=1.13 across a data decade because
    bucket occupancy, hence candidate-join fan-out, grew linearly;
    planes=10 at the 20k-vector scale ran ~10x faster at 1/6 the
    candidates).

    n_planes = clamp(ceil(log2(n / target_occupancy)), min, max) —
    one count() over the corpus (the index-build stage already scans
    it), then delegates to lsh_multiprobe_topk. At constant occupancy
    the per-table candidate join output grows ~linearly with n, so
    wall time tracks data volume instead of its square. The
    recall/candidate trade stays the caller's: on clustered corpora
    (the realistic case — PERF.md #21) constant occupancy holds
    recall; on adversarially uniform data, raise target_occupancy or
    probes to buy recall with candidates (ann_recall_report measures
    exactly this frontier).

    Oracle story (round-6): the plane count is data-dependent but the
    sizing rule is pure integer arithmetic (:func:`auto_n_planes`) and
    make_planes is prefix-stable, so the SQL twin bakes the
    max_planes matrix and re-derives the SAME count from count(*)
    with integer CASE thresholds — lsh_multiprobe_ann_top3 now runs
    THIS path end to end under the oracle gate."""
    n = corpus.count()
    return lsh_multiprobe_topk(
        queries, corpus, dim=dim,
        n_planes=auto_n_planes(
            n, target_occupancy=target_occupancy,
            min_planes=min_planes, max_planes=max_planes,
        ),
        **kwargs,
    )


def lsh_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 3,
    n_planes: int = 7,
    n_tables: int = 6,
    probes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Query-directed multi-probe sign-LSH top-k (round-3 verdict item
    #2 — single-bucket probing measured recall 0.35 on the near-uniform
    fixture; multi-probe recovers the neighbors that fall JUST across a
    hyperplane).

    Vectors attach late (round-10 decade-3 repair): the probe-exploded
    join on table/signature keys carries IDS ONLY, the (query, neighbor)
    pairs dedup on a ~24-byte shuffle row, and each side's vector is
    fetched ONCE per distinct candidate by id equi-join. The earlier
    plan carried both 64-dim vectors (~1 KB/row) through the exploded
    join and measured 1.70x slower at syn10 and 1.53x at syn30 (its
    occupancy law stayed intact, isolating the per-candidate payload
    as the cost). Vectors are functionally dependent on ids, so
    distinct-then-fetch gives the same results as fetch-then-distinct.

    Per table, a query probes not only its own bucket but the
    ``probes`` buckets with the smallest *boundary distance*: flipping
    sign bit b costs |dot_b| (how close the query sits to plane b), a
    flip set costs the sum of its bits, and the probe list is the
    cheapest ``probes`` of the hamming<=2 flip universe — so probing
    effort goes exactly where a near neighbor is most likely to have
    landed. Candidates stay an equi-join on (table, signature); the
    probe budget multiplies only the QUERY side's join input (corpus
    signatures are computed and shuffled once), so candidate volume is
    directly controlled by ``probes`` — the knob the recall audit
    (ann_recall_report) measures against its candidate telemetry.

    Deterministic end to end: flip costs add in fixed (a<b) order and
    probe ranking breaks cost ties by probe signature — so the DuckDB
    oracle re-derives the identical probe lists and candidate set.
    Everything stays JVM-side; the heavy expression trees are built as
    parsed SQL strings because py4j CONSTRUCTION cost, not execution,
    dominated the first version (measured at sf0.1: ~4 s of driver
    time building ~2.7k Column objects per run -> 0.6 s via F.expr;
    end-to-end 4.4 s -> 2.2 s). The plane dots stay an expression fold:
    an Arrow-batched numpy matmul A/B-measured slower here (2.4 s vs
    1.3 s exec — Python worker + double Arrow vector transfer outweigh
    the interpreted fold at thousands of rows; PERF.md decision 18).
    """
    tables = [
        make_planes(dim, n_planes, seed=seed + 1000 * t) for t in range(n_tables)
    ]
    flipsets = multiprobe_flipsets(n_planes, 2)
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    def dots_col() -> Column:
        # plane matrix as ONE parsed SQL literal: F.lit(nested_list)
        # round-trips py4j once per ELEMENT (2,688 calls / ~1.5 s of
        # driver time here) — the same construction-cost trap as the
        # struct loop, same F.expr cure. repr() floats round-trip
        # exactly, so the plan literals are bit-identical.
        planes_sql = ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in p) + ")"
            for planes in tables
            for p in planes
        )
        return F.expr(
            f"transform(array({planes_sql}), p -> "
            f"aggregate(zip_with({vec_col}, p, (a, b) -> CAST(a AS DOUBLE) * b), "
            f"0.0D, (acc, v) -> acc + v))"
        )

    def table_sig(t: int) -> Column:
        # ONE SQL string per table instead of ~n_planes py4j Column
        # constructions: the py4j round-trips of expression BUILDING
        # dominated this operator's per-run cost (measured ~4 s of
        # driver time at 6 tables x 29 flip structs before the
        # F.expr rewrite; server-side parsing of the same tree is
        # milliseconds). Same integer math as lsh_topk's fold.
        return F.expr(
            f"aggregate(sequence(0, {n_planes - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CAST(element_at(__dots, i + 1 + {t * n_planes}) >= 0 AS BIGINT)"
            f" * CAST(pow(2.0D, i) AS BIGINT))"
        )

    # ---- corpus: one signature row per (vec, table) — computed once,
    # shuffled once; the probe budget never touches this side.
    c0 = ensure_parallelism(corpus, corpus_id).select(
        F.col(corpus_id).alias("neighbor_id"),
        dots_col().alias("__dots"),
    )
    cs = c0.select(
        "neighbor_id",
        F.posexplode(F.array(*[table_sig(t) for t in range(n_tables)])).alias(
            "__table", "__sig"
        ),
    )

    # ---- queries: materialize dots+sigs behind projection boundaries
    # (the flip-cost expressions below reference them ~30x per table;
    # duplicated aggregate subtrees run interpreted — the repo-wide
    # codegen-overflow rule).
    q0 = ensure_parallelism(queries, query_id).select(
        F.col(query_id).alias("query_id"),
        dots_col().alias("__dots"),
    )
    q1 = q0.select(
        "query_id",
        "__dots",
        F.array(*[table_sig(t) for t in range(n_tables)]).alias("__sigs"),
    )

    def _flip_cost_sql(t: int, fs: list[int]) -> str:
        if not fs:
            return "CAST(0.0 AS DOUBLE)"
        return " + ".join(
            f"abs(element_at(__dots, {b + 1 + t * n_planes}))" for b in fs
        )

    def probe_list(t: int) -> Column:
        # one parsed SQL expression per table (see table_sig): ranked
        # (cost, probe_sig) structs, cheapest `probes` kept, cost ties
        # broken by probe signature via struct field order
        sig_t = f"element_at(__sigs, {t + 1})"
        structs = ", ".join(
            f"named_struct('c', {_flip_cost_sql(t, fs)}, "
            f"'s', CAST({sig_t} ^ {sum(1 << b for b in fs)} AS BIGINT))"
            for fs in flipsets
        )
        return F.expr(
            f"transform(slice(array_sort(array({structs})), 1, {probes}), x -> x.s)"
        )

    qp = q1.select(
        "query_id",
        F.posexplode(F.array(*[probe_list(t) for t in range(n_tables)])).alias(
            "__table", "__probes"
        ),
    ).select("query_id", "__table", F.explode("__probes").alias("__sig"))

    joined = qp.alias("q").join(
        cs.alias("c"),
        on=[
            F.col("q.__table") == F.col("c.__table"),
            F.col("q.__sig") == F.col("c.__sig"),
            F.col("query_id") != F.col("neighbor_id"),
        ],
    )
    pairs = joined.select("query_id", "neighbor_id").distinct()
    if k is None:
        # telemetry surface: the distinct candidate pairs themselves
        # (recall without its candidate cost is half a number)
        return pairs
    # ONE vector fetch per distinct candidate side — narrow second
    # scans of the inputs (no plane dots), so the 64-dim payload never
    # multiplies by probes x occupancy. Norms are hoisted to one fold
    # per ROW: per-pair scoring is a single dot fold (bit-identical to
    # cosine(): same fold orders, same two doubles multiplied).
    qvec = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    cvec = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    cand = pairs.join(qvec, "query_id").join(cvec, "neighbor_id")
    scored = cand.withColumn(
        "cosine",
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    ).drop("__qv", "__cv", "__qn", "__cn")


def _plane_sigs_arrow(
    df: DataFrame,
    *,
    planes_flat: list[list[float]],
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Sign-LSH signatures via Arrow-batched numpy: one (batch x dim) @
    (dim x n_tables*n_planes) matmul replaces per-row interpreted HOF
    folds (the vector sibling of dedup.minhash_signatures_arrow).
    Returns (__id, __v, __sigs array<long>[n_tables]).

    Value-parity with the expression path: each bit is (v . p >= 0) on
    float64 math; numpy's pairwise summation can differ from the
    sequential fold only in the last ulp, which flips a sign bit only
    if |dot| ~ 1e-13 — vanishing for continuous embeddings
    (parity-asserted against the expression path in tests)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType, True),
            StructField("__v", df.schema[vec_col].dataType, True),
            StructField("__sigs", ArrayType(LongType()), True),
        ]
    )
    src = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    def fn(batches):
        import numpy as np
        import pandas as pd

        pm = np.array(planes_flat, dtype=np.float64)  # (T*P, dim)
        weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit i -> 2^i
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
            bits = (v @ pm.T) >= 0  # (n, T*P)
            sigs = (
                bits.reshape(len(pdf), n_tables, n_planes).astype(np.int64)
                * weights[None, None, :]
            ).sum(axis=2)
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__v": pdf["__v"], "__sigs": list(sigs)}
            )

    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    return ensure_parallelism(src, "__id").mapInPandas(fn, out_schema)


def assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment via one Arrow-batched numpy matmul:
    (__id, __v, cell) with cell = argmax dot, ties to the LOWEST cell
    id (np.argmax takes the first maximum — same tie rule as
    ivf_assign's stable (-dot, cell) sort and the SQL twin's ORDER BY
    d DESC, cell). A map-side pass with no assignment shuffle; the
    vector rides along so a cell-grouped consumer needs no join back
    to the corpus. The centroid matrix rides the closure (k x dim
    literals — model state, the thing that should broadcast)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType, True),
            StructField("__v", df.schema[vec_col].dataType, True),
            StructField("cell", IntegerType(), True),
        ]
    )
    src = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    def fn(batches):
        import numpy as np

        cm = np.array(centroids, dtype=np.float64)  # (k, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
            yield pdf.assign(cell=np.argmax(v @ cm.T, axis=1).astype(np.int32))

    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    return ensure_parallelism(src, "__id").mapInPandas(fn, out_schema)


def lsh_signature_frame(
    df: DataFrame,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Per-table sign-LSH signatures: one row per (vector, table) with
    columns ``(__id, __v, __tbl, __sig)``. The hyperplanes are seeded
    literals, so signatures are reproducible across runs/engines — the
    shared candidate-keying primitive for the near-dup join and the
    incremental vector-ingest signature store.

    All n_tables*n_planes dot products run as one numpy matmul per
    Arrow batch (_plane_sigs_arrow; A/B 4.3 s -> 1.5 s against the
    expression fold, PERF.md decision 15). Table t's signature equals
    ``hyperplane_signature(vec, make_planes(dim, n_planes,
    seed=seed + 1000*t))`` (parity-tested)."""
    tables = [
        make_planes(dim, n_planes, seed=seed + 1000 * t) for t in range(n_tables)
    ]
    flat = [[float(x) for x in p] for planes in tables for p in planes]
    sigs = _plane_sigs_arrow(
        df,
        planes_flat=flat,
        n_planes=n_planes,
        n_tables=n_tables,
        id_col=id_col,
        vec_col=vec_col,
    )
    return sigs.select(
        "__id",
        "__v",
        F.posexplode("__sigs").alias("__tbl", "__sig"),
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH banded candidate
    generation (a pair is a candidate iff its signatures collide in ANY
    of ``n_tables`` tables) followed by exact cosine verification at
    ``threshold``. Emits ``(a_id, b_id, cosine)`` with ``a_id < b_id``.

    Deterministic end to end: the hyperplanes are seeded literals baked
    into the plan, so the candidate set (and hence the result) is
    reproducible and SQL-expressible for oracle checks.

    Scale shape (the dedup sibling of :func:`lsh_topk`): signatures are
    one narrow map over the corpus; the self-join is an equi-join on
    ``(table, signature)`` buckets — shuffle width is set by
    ``n_planes``, never all-pairs; the exact cosine runs only on
    bucket-colliding candidates. Recall at a given threshold grows with
    ``n_tables`` (for near-identical vectors a single table already
    catches ~all pairs).

    A zero vector is never anyone's near-duplicate (its cosine is
    undefined): every zero vector signs to the all-ones bucket, so
    zero-norm rows leave before the bucket join — the gram-matrix
    verify and the DuckDB twins score them the same way.
    """
    # localCheckpoint: both self-join sides consume the signature
    # frame — without it the whole signature pass (incl. the Arrow
    # matmul) re-executes per side. Norms are hoisted to one fold per
    # ROW so the verify does one dot fold per candidate instead of
    # three aggregates — bit-identical to cosine() (same fold orders,
    # same two doubles multiplied).
    sigs = (
        lsh_signature_frame(
            corpus, dim=dim, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, n_tables=n_tables, seed=seed,
        )
        .withColumn("__n", l2_norm(F.col("__v")))
        .where(F.col("__n") > 0)
        .localCheckpoint()
    )
    a = sigs.select(
        F.col("__id").alias("a_id"), F.col("__v").alias("__av"),
        F.col("__n").alias("__na"), "__tbl", "__sig",
    )
    b = sigs.select(
        F.col("__id").alias("b_id"), F.col("__v").alias("__bv"),
        F.col("__n").alias("__nb"), "__tbl", "__sig",
    )
    cand = (
        a.join(b, on=["__tbl", "__sig"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "__av", "__bv", "__na", "__nb")
        .distinct()
    )
    return (
        cand.withColumn(
            "cosine",
            dot(F.col("__av"), F.col("__bv")) / (F.col("__na") * F.col("__nb")),
        )
        .where(F.col("cosine") >= threshold)
        .drop("__av", "__bv", "__na", "__nb")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train: bool = True,
    seed: int = 7,
) -> list[list[float]]:
    """Persist an IVF index: centroids (tiny parquet) + the corpus
    hive-partitioned BY CELL — the build-once/query-many serving shape
    ivf_topk's docstring promises. Because rows are laid out
    cell-per-directory, a query probing nprobe cells partition-prunes
    the scan to nprobe/n_cells of the corpus files (plan-asserted in
    tests) instead of filtering after a full read. Returns the trained
    centroids.
    """
    spark = corpus.sparkSession
    if train:
        cents = kmeans_centroids(
            corpus, dim=dim, k=n_cells, vec_col=vec_col, id_col=corpus_id,
            seed=seed,
        )
    else:
        raw = make_planes(dim, n_cells, seed=seed)
        cents = [[x / (sum(v * v for v in c) ** 0.5) for x in c] for c in raw]
    from firmable_aus_etl_spark.operators.partitioning import (
        ensure_parallelism,
        local_frame,
    )

    local_frame(
        spark, list(enumerate(cents)), "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    assigned = ensure_parallelism(corpus, corpus_id).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        ivf_assign(F.col(vec_col), cents, nprobe=1)[0].alias("cell"),
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    return cents


def ivf_index_topk(
    queries: DataFrame,
    path: str,
    *,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
) -> DataFrame:
    """Query a build_ivf_index store: assign each query to its nprobe
    nearest stored centroids, join against ONLY those cell partitions
    (the cell equi-join prunes the hive layout), exact-cosine re-rank.
    Same output contract as ivf_topk."""
    spark = queries.sparkSession
    cents_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    )
    cents = [list(r.centroid) for r in cents_rows]
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(ivf_assign(F.col(vec_col), cents, nprobe=nprobe)).alias("cell"),
    )
    corpus = spark.read.parquet(f"{path}/cells")
    scored = (
        q.join(corpus, on=["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", F.col("vec").alias("__cv"))
        .distinct()
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    from firmable_aus_etl_spark.operators.windows import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    ).drop("__qv", "__cv")


def _semantic_verify_arrow(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cell pair verification as one normalized gram matrix per
    cell (applyInPandas): rows arrive whole-cell per call, vectors
    stack into an (w, dim) float64 matrix, C = Vn @ Vn.T, and pairs
    i < j (by id, ascending — deterministic emission order) with
    C >= threshold come back as (a_id, b_id, cell, cosine). numpy
    pairwise summation differs from the sequential fold only at
    ~1e-16 relative — parity-tested at 9 dp against verify="expr"."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    id_t = assigned.schema["__id"].dataType
    out_schema = StructType(
        [
            StructField("a_id", id_t, True),
            StructField("b_id", id_t, True),
            StructField("cell", IntegerType(), True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def per_cell(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("__id").reset_index(drop=True)
        w = len(pdf)
        if w < 2:
            return pd.DataFrame(
                {"a_id": [], "b_id": [], "cell": [], "cosine": []}
            ).astype({"cell": "int32", "cosine": "float64"})
        m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        n = np.linalg.norm(m, axis=1)
        n[n == 0.0] = 1.0  # zero vectors never reach a 0.99 threshold
        c = (m / n[:, None]) @ (m / n[:, None]).T
        iu, ju = np.triu_indices(w, k=1)
        keep = c[iu, ju] >= threshold
        ids = pdf["__id"].to_numpy()
        return pd.DataFrame(
            {
                "a_id": ids[iu[keep]],
                "b_id": ids[ju[keep]],
                "cell": np.full(int(keep.sum()), int(pdf["cell"].iloc[0]),
                                dtype=np.int32),
                "cosine": c[iu, ju][keep],
            }
        )

    return assigned.groupBy("cell").applyInPandas(per_cell, schema=out_schema)


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """SemDeDup-style cluster-blocked embedding dedup (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): assign every vector to its nearest centroid,
    compare pairs ONLY within a cell, keep pairs with cosine >=
    threshold. Emits (a_id, b_id, cell, cosine), a_id < b_id.

    The alternative blocking strategy to sign-LSH banding
    (cosine_near_dup_pairs): cell-grouped blocks instead of
    (table, signature) buckets — coarser blocks, no banding overhead,
    and the known SemDeDup recall trade: a near-dup pair straddling a
    cell boundary is missed (by design; raise n_cells for smaller
    cells, or use the LSH path when recall must be provable).
    Deterministic given centroid literals, so fully SQL-expressible.

    Two stages, the shape of the registered
    semantic_dedup_cell_blocked query: ONE mapInPandas assigns cells
    (assign_cells_arrow — the matmul rides the map side of the
    groupBy(cell) shuffle), and one applyInPandas per cell scores the
    normalized GRAM MATRIX (_semantic_verify_arrow). No join, no
    persisted intermediate. A/B at sf0.1: assignment 3.9 s -> 2.0 s
    against a posexplode + broadcast-centroid join (PERF.md decision
    15); the fused path 1.76 s -> 1.1 s against a self-join verify
    (decision 19). Cosines differ from the sequential dot fold only in
    FP summation order (~1e-16 relative; parity-tested at 9 dp). Cell
    width w bounds the w x w gram buffer: raise n_cells if cells
    outgrow executor memory (the standard SemDeDup lever)."""
    assigned = assign_cells_arrow(corpus, centroids, id_col=id_col, vec_col=vec_col)
    return _semantic_verify_arrow(assigned, threshold)
