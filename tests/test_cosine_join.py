"""Persisted TF-IDF index: build-once/query-many matching parity."""

from __future__ import annotations

from pyspark.sql import functions as F



def _term_frame(spark, rows):
    """(id, token, tf) from {id: text} word lists."""
    out = []
    for i, words in rows:
        from collections import Counter

        for w, n in Counter(words.split()).items():
            out.append((i, w, float(n)))
    return spark.createDataFrame(out, "doc_id long, t string, tf double")


def test_tfidf_index_build_query_roundtrip(spark, tmp_path):
    from firmable_aus_etl_spark.operators.cosine_join import (
        build_tfidf_index,
        tfidf_index_topk,
    )

    corpus = [
        (1, "acme steel supply co"),
        (2, "acme steel trading"),
        (3, "blue ocean shipping line"),
        (4, "green valley farms produce"),
    ]
    terms = _term_frame(spark, corpus)
    df_rel = terms.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    wt = terms.join(df_rel, "t").select(
        "doc_id", "t", (F.col("tf") * (F.lit(1.0) / F.col("df"))).alias("wt")
    )
    path = str(tmp_path / "tfidf_idx")
    build_tfidf_index(wt, path)

    # perturbed queries: each should hit its source doc as top-1
    queries = [
        (101, "acme steel supply"),        # -> 1
        (103, "blue ocean shipping"),      # -> 3
        (104, "green valley produce"),     # -> 4
    ]
    q_terms = _term_frame(spark, queries).withColumnRenamed("doc_id", "q_id")
    out = tfidf_index_topk(q_terms, path, k=1, threshold=0.1)
    best = {r.q_id: (r.doc_id, r.cosine) for r in out.collect()}
    assert best[101][0] == 1 and best[103][0] == 3 and best[104][0] == 4
    assert all(c > 0.5 for _, c in best.values())


def test_tfidf_index_unseen_tokens_drop(spark, tmp_path):
    from firmable_aus_etl_spark.operators.cosine_join import (
        build_tfidf_index,
        tfidf_index_topk,
    )

    corpus = [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
    terms = _term_frame(spark, corpus)
    wt = terms.select("doc_id", "t", F.col("tf").alias("wt"))
    path = str(tmp_path / "idx2")
    build_tfidf_index(wt, path)

    # query entirely OUT of vocabulary -> no rows, no error
    q1 = _term_frame(spark, [(201, "neverseen words only")]).withColumnRenamed(
        "doc_id", "q_id"
    )
    assert tfidf_index_topk(q1, path).count() == 0
    # mixed: unseen tokens do not dilute the cosine (index-space norm)
    q2 = _term_frame(spark, [(202, "alpha beta gamma neverseen")]).withColumnRenamed(
        "doc_id", "q_id"
    )
    row = tfidf_index_topk(q2, path, k=1).first()
    assert row.doc_id == 1 and abs(row.cosine - 1.0) < 1e-9


def test_tfidf_index_matches_inline_join(spark, tmp_path):
    """Index-mediated matching must equal the same computation done
    inline (no persistence) — store round-trip loses nothing."""
    from firmable_aus_etl_spark.operators.cosine_join import (
        build_tfidf_index,
        tfidf_index_topk,
    )
    from firmable_aus_etl_spark.datasets import load_table
    from firmable_aus_etl_spark.functions.similarity import normalize_name

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.split(normalize_name(F.col("text")), " ")).alias("t"),
    ).groupBy("doc_id", "t").agg(F.count("*").cast("double").alias("tf"))
    df_rel = terms.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    wt = terms.join(df_rel, "t").select(
        "doc_id", "t", (F.col("tf") * (F.lit(1.0) / F.col("df"))).alias("wt")
    )
    path = str(tmp_path / "idx3")
    build_tfidf_index(wt, path)

    q_terms = terms.filter(F.col("doc_id") % 50 == 0).withColumnRenamed(
        "doc_id", "q_id"
    )
    via_index = tfidf_index_topk(q_terms, path, k=2, threshold=0.2)

    # inline reference: identical weighting and join, no store
    qw = q_terms.join(df_rel, "t").select(
        "q_id", "t", (F.col("tf") * (F.lit(1.0) / F.col("df"))).alias("qw")
    )
    qn = qw.groupBy("q_id").agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn"))
    dn = wt.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("dn"))
    dots = (
        qw.join(wt, "t").groupBy("q_id", "doc_id").agg(F.sum(F.col("qw") * F.col("wt")).alias("dp"))
    )
    from firmable_aus_etl_spark.operators.windows import topk_per_group

    inline = topk_per_group(
        dots.join(qn, "q_id").join(dn, "doc_id")
        .select("q_id", "doc_id", (F.col("dp") / (F.col("qn") * F.col("dn"))).alias("cosine"))
        .filter(F.col("cosine") >= 0.2),
        ["q_id"],
        [F.col("cosine").desc(), F.col("doc_id").asc()],
        k=2,
        keep_rank=True,
        rank_col="rank",
    )
    a = {(r.q_id, r.doc_id, r.rank, round(r.cosine, 9)) for r in via_index.collect()}
    b = {(r.q_id, r.doc_id, r.rank, round(r.cosine, 9)) for r in inline.collect()}
    assert a == b and len(a) > 0


def _weighted(spark, docs):
    """inv-df weighted term frame from {id: text}."""
    terms = _term_frame(spark, docs)
    df_rel = terms.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    return terms.join(df_rel, "t").select(
        "doc_id", "t", (F.col("tf") * (F.lit(1.0) / F.col("df"))).alias("wt")
    )


def _dense_corpus():
    # template-dense: every doc shares the same 5-token template plus
    # one distinguishing token -> nearly every pair survives the prefix
    # filter, so pruning buys nothing over the one-pass naive join
    return [
        (i, f"alpha beta gamma delta epsilon tok{i % 3}") for i in range(1, 31)
    ]


def _sparse_corpus():
    # near-dup-sparse: the shared tokens are LIGHT (high df -> tiny
    # inv-df weight, excluded from every heavy prefix) and each doc's
    # heavy token is unique -> cand_rows collapses to ~0 while the
    # naive pair-row fan-out stays quadratic in the posting sizes
    docs = [
        (i, " ".join(["common"] * 1 + [f"uniq{i}"] * 6 + ["shared little word"]))
        for i in range(1, 61)
    ]
    # one genuine near-dup pair so the parity check is non-vacuous
    docs += [
        (61, "common uniq61 uniq61 uniq61 uniq61 uniq61 uniq61 shared little word"),
        (62, "common uniq61 uniq61 uniq61 uniq61 uniq61 uniq61 shared little word"),
    ]
    return docs


def _estimate(corpus):
    from firmable_aus_etl_spark.operators.cosine_join import estimate_cosine_plan

    return estimate_cosine_plan(
        [((), text.split()) for _, text in corpus], threshold=0.7
    )


def test_adaptive_dispatch_picks_naive_on_dense():
    dec = _estimate(_dense_corpus())
    assert dec["plan"] == "naive", dec


def test_adaptive_dispatch_picks_prefix_on_sparse():
    dec = _estimate(_sparse_corpus())
    assert dec["plan"] == "prefix", dec
    assert dec["cand_rows"] < dec["pair_rows"] / 2


def test_adaptive_matches_both_fixed_plans_on_both_regimes(spark):
    """The adaptive plan choice is physical planning only: the two
    plans it picks between, prefix and naive, agree row-for-row on
    both corpus shapes (6-decimal cosine)."""
    from firmable_aus_etl_spark.operators.cosine_join import (
        cosine_naive_join,
        cosine_prefix_join,
    )

    for corpus in (_dense_corpus(), _sparse_corpus()):
        wt = _weighted(spark, corpus)
        kw = dict(id_col="doc_id", token_col="t", weight_col="wt", threshold=0.3)

        def rows(df):
            return sorted(
                (r["a_id"], r["b_id"], round(r["dp"] / (r["nrm_a"] * r["nrm_b"]), 6))
                for r in df.collect()
            )

        got = rows(cosine_prefix_join(wt, **kw))
        assert got == rows(cosine_naive_join(wt, **kw))
        assert got, "fixture produced no pairs - test is vacuous"


def test_driver_estimator_agrees_with_spark_stats(spark):
    """estimate_cosine_plan (pure-Python, driver-side) must count the
    same posting pair rows and heavy-prefix candidate rows as Spark
    aggregates over the same weighting and the prefix join's own
    heavy-prefix marking (_heavy_terms), on both regimes."""
    from firmable_aus_etl_spark.operators.cosine_join import _heavy_terms

    for corpus in (_dense_corpus(), _sparse_corpus()):
        wt = _weighted(spark, corpus)
        heavy = _heavy_terms(
            wt, id_col="doc_id", token_col="t", weight_col="wt",
            threshold=0.7, block_cols=[],
        )
        cnt = wt.groupBy("t").agg(F.count("*").alias("cnt"))
        hcnt = heavy.groupBy("t").agg(F.count("*").alias("hcnt"))
        stats = (
            cnt.join(hcnt, "t", "left")
            .agg(
                F.sum(F.col("cnt") * (F.col("cnt") - 1)).alias("pair_rows"),
                F.sum(
                    F.coalesce(F.col("hcnt"), F.lit(0)) * (F.col("cnt") - 1)
                ).alias("cand_rows"),
            )
            .collect()[0]
        )
        py_dec = _estimate(corpus)
        assert py_dec["pair_rows"] == stats["pair_rows"], (py_dec, stats)
        assert py_dec["cand_rows"] == stats["cand_rows"], (py_dec, stats)


def test_driver_estimator_heavy_marking_matches_spark_window(spark):
    """The pure-Python estimator's heavy-prefix sets must equal the
    Spark window's EXACTLY on randomized corpora (weights, ties, and
    the (weight desc, token asc) suffix order all mirrored) — the core
    claim behind dispatching from a driver-side sample."""
    import random

    from firmable_aus_etl_spark.operators.cosine_join import _heavy_terms

    vocab = [f"w{i}" for i in range(30)] + ["wa", "wab", "w1x"]
    for seed in range(3):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(3, 15))))
            for i in range(1, 25)
        ]
        wt = _weighted(spark, docs)
        heavy_spark = {
            (r["doc_id"], r["t"])
            for r in _heavy_terms(
                wt, id_col="doc_id", token_col="t", weight_col="wt",
                threshold=0.6, block_cols=[],
            ).collect()
        }
        # python mirror: recompute the same inv-df weights, mark heavy
        from collections import Counter

        df_counts: Counter = Counter()
        tfs = []
        for i, text in docs:
            tf = Counter(text.split())
            tfs.append((i, tf))
            for t in tf:
                df_counts[t] += 1
        heavy_py = set()
        for i, tf in tfs:
            w = {t: n / df_counts[t] for t, n in tf.items()}
            total = sum(x * x for x in w.values())
            order = sorted(w, reverse=True)
            order.sort(key=lambda t: w[t])
            suffix = 0.0
            for t in order:
                suffix += w[t] * w[t]
                if suffix >= 0.6 * 0.6 * total:
                    heavy_py.add((i, t))
        assert heavy_py == heavy_spark, f"seed {seed}"


def test_weighted_simhash_candidates_python_parity(spark):
    """The weighted sign-LSH signature must match a direct Python
    reference bit-for-bit (md5 31-bit token hash, affine plane family,
    integer milli-weight sign sums) — the same exactness the DuckDB
    twin of tfidf_cosine_simhash_top1 relies on — and exact-duplicate
    docs must always be candidates (identical vectors -> identical
    signatures -> every chunk collides)."""
    import hashlib
    from collections import Counter

    from firmable_aus_etl_spark.operators.cosine_join import (
        simhash_plane_family,
        weighted_simhash_candidates,
    )
    from firmable_aus_etl_spark.operators.dedup import (
        _MERSENNE_31,
        md5_base_hash,
    )

    corpus = [
        (1, "acme steel supply co pty ltd"),
        (2, "acme steel supply co pty ltd"),          # exact dup of 1
        (3, "blue ocean shipping line international"),
        (4, "green valley farms produce market fresh"),
        (5, "quantum widget factory outlet store"),
        (6, "blue ocean shipping line international"),  # exact dup of 3
    ]

    def h31(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % _MERSENNE_31

    # python reference: tf/df -> integer milli-weights -> sign bits
    df_counts: Counter = Counter()
    tfs = []
    for i, text in corpus:
        tf = Counter(text.split())
        tfs.append((i, tf))
        for t in tf:
            df_counts[t] += 1
    fams = simhash_plane_family(32)  # default width=8, chunks=4

    def plane_bit(t: str, i: int) -> int:
        j, b = divmod(i, 31)
        a_j, b_j = fams[j]
        hv = h31(t) if j == 0 else (a_j * h31(t) + b_j) % _MERSENNE_31
        return (hv >> b) & 1

    expect_sig = {}
    for i, tf in tfs:
        sig = 0
        for pl in range(32):
            s = sum(
                (n * 1_000_000_000 // df_counts[t])
                * (2 * plane_bit(t, pl) - 1)
                for t, n in tf.items()
            )
            if s > 0:
                sig |= 1 << pl
        expect_sig[i] = sig

    rows = []
    for i, text in corpus:
        for t, n in Counter(text.split()).items():
            rows.append((i, t, n, n * 1_000_000_000 // df_counts[t]))
    wt = spark.createDataFrame(rows, "doc_id long, s string, tf long, wi long")
    wt = wt.select("doc_id", md5_base_hash(F.col("s")).alias("t"), "wi")

    # spark signatures via the operator's own aggregation (probe the
    # internals through the candidate output: dup pairs MUST collide)
    cand = weighted_simhash_candidates(
        wt, id_col="doc_id", token_col="t", weight_col="wi"
    )
    assert cand.columns == ["a_id", "b_id"]
    got = {(r.a_id, r.b_id) for r in cand.collect()}
    assert (1, 2) in got and (3, 6) in got, got
    # identical signatures were the reason: confirm via the reference
    assert expect_sig[1] == expect_sig[2]
    assert expect_sig[3] == expect_sig[6]
    # and unrelated docs with fully disjoint vocab should NOT be forced
    # together unless a chunk genuinely collides — cross-check against
    # the reference signatures chunk by chunk
    def chunks_of(sig: int) -> set:
        return {(c, (sig >> (c * 8)) & 0xFF) for c in range(4)}

    for a in range(1, 7):
        for b in range(a + 1, 7):
            should = bool(chunks_of(expect_sig[a]) & chunks_of(expect_sig[b]))
            assert ((a, b) in got) == should, (a, b, should)


def _write_docs(tmp_path, rows):
    """documents.parquet fixture with the driver schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_routed_cosine_flips_to_lsh_and_duckdb_replays_the_decision(
    spark, tmp_path
):
    """A boilerplate-quadratic corpus (every doc shares 40 tokens ->
    cand mass 40*C(60,2) = 70,800 > 1024*60) must route to the LSH
    pipeline, produce exactly the simhash query's rows, and the DuckDB
    routed ORACLE must take the same branch and match — the decision
    replay, not just the chosen plan."""
    import duckdb

    from firmable_aus_etl_spark import queries as Q

    boiler = " ".join(f"tok{i}" for i in range(40))
    # 30 identical-text pairs: the boilerplate puts the corpus deep in
    # the quadratic regime (df=60 for 40 tokens), and identical pair
    # texts give identical signatures, so the LSH route MUST surface
    # every pair (cosine 1.0) — deterministic rows to compare engines on
    rows = [
        (i, f"{boiler} p{i // 2}_a p{i // 2}_b p{i // 2}_c", "en", "web")
        for i in range(60)
    ]
    sf_dir = _write_docs(tmp_path, rows)

    stats = Q._tfidf_route_stats(spark, sf_dir)
    assert stats["n_docs"] == 60
    assert stats["cand_mass"] > Q._COSINE_ROUTE_CAP * stats["n_docs"]

    routed = Q.QUERIES["tfidf_cosine_routed"](spark, sf_dir)
    lsh = Q.QUERIES["tfidf_cosine_simhash_top1"](spark, sf_dir)
    routed_rows = sorted(map(tuple, routed.collect()))
    assert routed_rows == sorted(map(tuple, lsh.collect()))
    assert routed_rows, "near-identical docs must produce matches"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    oracle_rows = sorted(
        map(tuple, con.execute(Q.ORACLE["tfidf_cosine_routed"]).fetchall())
    )
    assert [(a, b) for a, b, _ in routed_rows] == [
        (a, b) for a, b, _ in oracle_rows
    ]
    for (_, _, c1), (_, _, c2) in zip(routed_rows, oracle_rows):
        assert abs(c1 - c2) < 1e-9


def test_routed_cosine_takes_exact_branch_on_sparse_corpus(spark, tmp_path):
    """Distinct-vocabulary docs sit far under the candidate budget ->
    exact branch, rows equal to the exact adaptive query's."""
    from firmable_aus_etl_spark import queries as Q

    rows = []
    for i in range(30):
        base = " ".join(f"w{i}_{j}" for j in range(10))
        rows.append((2 * i, base + " alpha beta", "en", "web"))
        rows.append((2 * i + 1, base + " alpha gamma", "en", "web"))
    sf_dir = _write_docs(tmp_path, rows)

    stats = Q._tfidf_route_stats(spark, sf_dir)
    assert stats["cand_mass"] <= Q._COSINE_ROUTE_CAP * stats["n_docs"]

    routed = sorted(map(tuple, Q.QUERIES["tfidf_cosine_routed"](spark, sf_dir).collect()))
    exact = sorted(map(tuple, Q.QUERIES["tfidf_cosine_top1"](spark, sf_dir).collect()))
    assert routed == exact
    assert routed, "paired docs share 11/12 tokens -> matches exist"


def test_auto_simhash_bands_sizing_rule():
    """The occupancy half is exact integer arithmetic (the SQL CASE
    thresholds n <= 16*2^k must agree at every boundary), the
    amplification half holds the design recall, and NOTHING clamps
    the width (round-8 constant-clamp lesson: the rule is unbounded;
    only oracle-gated queries carry a LOUD capacity raise)."""
    import math

    from firmable_aus_etl_spark.operators.cosine_join import (
        SIMHASH_ORACLE_MAX_WIDTH,
        auto_simhash_bands,
        simhash_chunks_for_width,
    )

    # boundary exactness: n = 16*2^k is the LAST n at width k
    for k in range(9, 20):
        assert auto_simhash_bands(16 * 2**k)[0] == k
        assert auto_simhash_bands(16 * 2**k + 1)[0] == k + 1
    # floor: tiny corpora stay at the small-corpus default width
    assert auto_simhash_bands(1)[0] == 8
    assert auto_simhash_bands(4096)[0] == 8
    # occupancy target holds: expected bucket width <= 16
    for n in (100, 4097, 65537, 10**6, 10**9):
        w, c = auto_simhash_bands(n)
        assert n / (1 << w) <= 16
        assert c >= 1
    # recall at the design point is restored by the chunk count
    p = 1.0 - math.acos(0.95) / math.pi
    for w in range(8, 25):
        c = simhash_chunks_for_width(w)
        assert 1 - (1 - p**w) ** c >= 0.9, (w, c)
        # and c-1 would NOT suffice (c is minimal)
        if c > 1:
            assert 1 - (1 - p**w) ** (c - 1) < 0.9, (w, c)
    # UNBOUNDED: no clamp at any scale
    assert auto_simhash_bands(16 * 2**40)[0] == 40
    # chunks monotone nondecreasing in width
    cs = [simhash_chunks_for_width(w) for w in range(8, 30)]
    assert all(a <= b for a, b in zip(cs, cs[1:]))
    # the oracle matrix has real headroom over every driver fixture
    # (saturation-guard: if testdata ever grows past 16*2^23 docs this
    # fails before the capacity raise ever could)
    assert auto_simhash_bands(10**7)[0] <= SIMHASH_ORACLE_MAX_WIDTH - 1


def test_simhash_query_raises_loud_past_oracle_matrix(
    spark, tmp_path, monkeypatch
):
    """Past the baked CASE matrix the registered query must RAISE, not
    clamp — a silent clamp is the exact cliff class round 8 measured
    (max_planes 12 -> 287.7 s at syn10)."""
    import pytest

    from firmable_aus_etl_spark import queries as Q
    from firmable_aus_etl_spark.queries import llm_text

    sf_dir = _write_docs(tmp_path, [(1, "acme steel", "en", "web")])
    # the injected documents row count is past the 2^24 matrix
    monkeypatch.setattr(llm_text, "table_stat", lambda *a: 16 * 2**30)
    with pytest.raises(RuntimeError, match="exceeds the"):
        Q.q_tfidf_cosine_simhash_top1(spark, sf_dir)


def test_simhash_banding_recall_on_planted_near_dups(spark):
    """End-to-end recall property at the design point: planted
    near-duplicate pairs (cosine >= ~0.95) must be recovered by the
    auto-sized banding at well above the 0.9 design recall on this
    fixture (exact dups collide with probability 1; the planted
    one-token edits sit near cosine 0.97)."""
    from collections import Counter

    from firmable_aus_etl_spark.operators.cosine_join import (
        auto_simhash_bands,
        weighted_simhash_candidates,
    )
    from firmable_aus_etl_spark.operators.dedup import md5_base_hash

    # the pair-identifying token{i} (df=2) carries ~0.5 inv-df weight
    # and dominates both vectors; the edited token flips between kappa
    # and lambda (both df=40 -> weight 0.025), so each planted pair
    # sits at cosine ~0.9975 — ABOVE the 0.95 design point
    base = [
        f"alpha beta gamma delta epsilon zeta eta theta token{i} iota"
        for i in range(40)
    ]
    corpus = []
    for i, text in enumerate(base):
        corpus.append((2 * i, text + " kappa"))
        corpus.append((2 * i + 1, text + " lambda"))
    df_counts: Counter = Counter()
    tfs = []
    for i, text in corpus:
        tf = Counter(text.split())
        tfs.append((i, tf))
        for t in tf:
            df_counts[t] += 1
    rows = [
        (i, t, n * 1_000_000_000 // df_counts[t])
        for i, tf in tfs
        for t, n in tf.items()
    ]
    wt = spark.createDataFrame(rows, "doc_id long, s string, wi long")
    wt = wt.select("doc_id", md5_base_hash(F.col("s")).alias("t"), "wi")
    w, c = auto_simhash_bands(len(corpus))
    cand = weighted_simhash_candidates(
        wt, id_col="doc_id", token_col="t", weight_col="wi",
        width=w, chunks=c,
    )
    got = {(r.a_id, r.b_id) for r in cand.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, recall


def test_tau_routed_decision_and_branches(spark, tmp_path):
    """The tau~0.7 routing (round-8 Next #2, redesigned in r9 after
    the embedding arm measured out): exact-friendly corpora take the
    exact join verbatim; exact-hostile corpora take the
    capped-amplification banding whose capped chunk count replays in
    the oracle; and the (unrouted, kept) embedding-ANN operator still
    hash-matches its DuckDB twin on a fresh fixture."""
    import duckdb

    from firmable_aus_etl_spark import queries as Q
    from firmable_aus_etl_spark.operators.cosine_join import (
        auto_simhash_bands,
    )

    # capped sizing arithmetic: the cap binds exactly where the
    # uncapped requirement exceeds it
    assert auto_simhash_bands(500, design_cosine=0.7) == (8, 23)
    assert auto_simhash_bands(500, design_cosine=0.7, max_chunks=24) == (8, 23)
    assert auto_simhash_bands(5000, design_cosine=0.7) == (9, 31)
    assert auto_simhash_bands(5000, design_cosine=0.7, max_chunks=24) == (9, 24)

    # exact branch: driver fixture is exact-friendly -> rows equal the
    # exact adaptive query's
    sf001 = "/root/testdata/sf0.001"
    stats = Q._tfidf_route_stats(spark, sf001)
    assert stats["cand_mass"] <= Q._COSINE_ROUTE_CAP * stats["n_docs"]
    got = sorted(map(tuple, Q.QUERIES["tfidf_cosine_tau_routed"](spark, sf001).collect()))
    want = sorted(map(tuple, Q.QUERIES["tfidf_cosine_top1"](spark, sf001).collect()))
    assert got == want and got

    # banded arm: a boilerplate-quadratic corpus flips the route, and
    # the DuckDB routed oracle takes the same branch and matches
    boiler = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (i, f"{boiler} p{i // 2}_a p{i // 2}_b p{i // 2}_c", "en", "web")
        for i in range(60)
    ]
    sf_dir = _write_docs(tmp_path, rows)
    stats = Q._tfidf_route_stats(spark, sf_dir)
    assert stats["cand_mass"] > Q._COSINE_ROUTE_CAP * stats["n_docs"]
    routed_rows = sorted(
        map(tuple, Q.QUERIES["tfidf_cosine_tau_routed"](spark, sf_dir).collect())
    )
    assert routed_rows, "identical pair texts must match at tau"
    con0 = duckdb.connect()
    con0.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    oracle_rows = sorted(
        map(tuple, con0.execute(Q.ORACLE["tfidf_cosine_tau_routed"]).fetchall())
    )
    assert [(a, b) for a, b, _ in routed_rows] == [
        (a, b) for a, b, _ in oracle_rows
    ]
    for (_, _, c1), (_, _, c2) in zip(routed_rows, oracle_rows):
        assert abs(c1 - c2) < 1e-9

    # embedding-ANN operator engine parity on a corpus with planted
    # tau-level matches (kept as an operator + measured negative on
    # record; not routed)
    rows = []
    for i in range(40):
        base = " ".join(f"w{i}_{j}" for j in range(8))
        rows.append((2 * i, base + " alpha beta gamma delta", "en", "web"))
        rows.append((2 * i + 1, base + " alpha beta epsilon zeta", "en", "web"))
    sf_dir = _write_docs(tmp_path, rows)
    got = sorted(
        map(tuple, Q._embedding_ann_cosine_top1(spark, sf_dir).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(Q._tfidf_embed_ann_oracle(0.7)).fetchall())
    )
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, c1), (_, _, c2) in zip(got, want):
        assert abs(c1 - c2) < 1e-9
    assert got, "planted tau-level pairs must match"
