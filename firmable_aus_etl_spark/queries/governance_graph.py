"""Query-registry part: see section header below.

Split from the monolithic queries.py (round-9, verdict Next #6);
registration order preserved by the package __init__ import order.
"""

from __future__ import annotations

from firmable_aus_etl_spark.queries._base import *  # noqa: F401,F403
from firmable_aus_etl_spark.queries.grouping_setops import (  # noqa: F401
    _CLUSTER_ORACLE,
)
from firmable_aus_etl_spark.queries.llm_text import (  # noqa: F401
    _NORM_SQL,
    _TOKENS_SQL,
)

# =========================================================================
# Governance / sampling / graph-analytics widening (round 2, session 2):
# k-anonymity audit, deterministic weighted sampling, collocation PMI,
# co-purchase graph profile, golden-record survivorship, corpus overlap.
# =========================================================================

@register(
    "k_anonymity_audit_customers",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balance_band,
           CAST(count(*) AS BIGINT) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
    HAVING count(*) < 8
    """,
)
def q_k_anonymity_audit_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance audit: quasi-identifier combinations
    (nation, segment, coarse balance band) identifying fewer than k=8
    customers — the groups a k-anonymous release must suppress.
    Single partial-aggregated groupBy; the HAVING filter runs on the
    already-tiny group frame."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("balance_band"),
    )
    return agg.k_anonymity_violations(
        cust, ["c_nationkey", "c_mktsegment", "balance_band"], k=8
    )


_ARES_HEX = (
    "CAST(list_sum(list_transform(range(1, 13), i -> "
    "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
    "CAST(i AS INTEGER), 1)) - 1) * 16 ** (12 - i))) AS DOUBLE)"
)


@register(
    "weighted_sample_documents",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars, {_ARES_HEX} AS hv FROM documents
    ), p AS (
      SELECT doc_id, n_chars,
             ln((hv + 1) / 281474976710656.0) / n_chars AS pri
      FROM h
    )
    SELECT doc_id, n_chars, round(pri, 9) AS priority
    FROM p ORDER BY pri DESC, doc_id LIMIT 100
    """,
)
def q_weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res), inclusion odds proportional to document length — the
    training-mix sampler in its reproducible form: priorities are a
    pure function of (doc_id, n_chars), so the sample is identical on
    any cluster layout and any engine (which is what makes it
    oracle-checkable; df.sample's seed is partitioning-dependent).
    Plan: map-side priorities + one TakeOrderedAndProject top-100 —
    no global sort."""
    from firmable_aus_etl_spark.operators.sampling import weighted_sample_ares

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    picked = weighted_sample_ares(docs, "doc_id", "n_chars", k=100)
    return picked.select(
        "doc_id", "n_chars", F.col("__priority").alias("priority")
    )


@register(
    "bigram_pmi_documents",
    f"""
    WITH d AS (SELECT {_TOKENS_SQL} AS w FROM documents),
    bgp AS (
      SELECT bg[1] AS a, bg[2] AS b
      FROM (SELECT unnest(list_zip(w[: len(w) - 1], w[2:])) AS bg FROM d)
    ),
    uni AS (SELECT unnest(w) AS t FROM d),
    uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t),
    bc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bgp GROUP BY a, b),
    tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS nu,
                   (SELECT CAST(count(*) AS BIGINT) FROM bgp) AS nb),
    top AS (
      SELECT a, b, cab FROM bc ORDER BY cab DESC, a, b LIMIT 50
    )
    SELECT t.a, t.b, t.cab AS cnt,
           round(ln((CAST(t.cab AS DOUBLE) / nb) /
                    ((CAST(ca.c AS DOUBLE) / nu) * (CAST(cb.c AS DOUBLE) / nu))), 6)
             AS pmi
    FROM top t
    JOIN uc ca ON ca.t = t.a
    JOIN uc cb ON cb.t = t.b
    CROSS JOIN tot
    """,
)
def q_bigram_pmi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of the 50 most
    frequent token bigrams — ln(P(ab) / (P(a)P(b))) with corpus-level
    unigram/bigram totals. Text-analysis family (the statistical
    phrase detector next to top_terms_per_lang's plain frequency).

    Plan: bigrams explode via an index transform (no self-join on
    position), two partial-agg counts, top-50 TakeOrderedAndProject,
    then two small broadcast joins against the unigram counts; the
    corpus totals ride a 1-row crossJoin. PMI arithmetic is written in
    the same operation order on both engines so the doubles match
    bit-for-bit before rounding."""
    docs = load_table(spark, sf_dir, "documents")
    from firmable_aus_etl_spark.functions import text as T

    toks = docs.select(T.tokens("text").alias("w"))
    n = F.size(F.col("w"))
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bgp = toks.select(
        F.explode(idx).alias("i"), F.col("w")
    ).select(
        F.element_at("w", F.col("i")).alias("a"),
        F.element_at("w", F.col("i") + 1).alias("b"),
    )
    # explode_outer + null-drop: an inner explode makes
    # InferFiltersFromGenerate push `size(<tokenize>) > 0` onto the scan,
    # running the tokenize regex twice per document
    uni = toks.select(F.explode_outer("w").alias("t")).filter(
        F.col("t").isNotNull()
    )
    uc = uni.groupBy("t").agg(F.count("*").alias("c"))
    bc = bgp.groupBy("a", "b").agg(F.count("*").alias("cab"))
    tot = uni.agg(F.count("*").alias("nu")).crossJoin(
        bgp.agg(F.count("*").alias("nb"))
    )
    top = bc.orderBy(F.col("cab").desc(), "a", "b").limit(50)
    ca = uc.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    cb = uc.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("cab").cast("double") / F.col("nb"))
            / (
                (F.col("ca").cast("double") / F.col("nu"))
                * (F.col("cb").cast("double") / F.col("nu"))
            )
        ),
        6,
    )
    return (
        top.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", F.col("cab").alias("cnt"), pmi.alias("pmi"))
    )


@register(
    "copurchase_graph_summary",
    """
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS deg
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY node
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e x JOIN e y ON x.b = y.a JOIN e z ON z.a = x.a AND z.b = y.b
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           round(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6)
             AS clustering_coeff
    FROM m CROSS JOIN ne CROSS JOIN tri
    """,
)
def q_copurchase_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics profile of the part co-purchase graph (parts
    linked when co-ordered in >= 2 orders): nodes, edges, wedges,
    triangles, global clustering coefficient. Triangle counting via
    the oriented two-join pattern (Suri-Vassilvitskii) — wedges
    enumerate once at their lowest vertex, one equi-join probe closes
    them (operators/graph.py); an edge set of at most 20k rows is
    counted on the driver instead, from the one collect that probed its
    size. Edge generation via cooccurrence_pairs:
    one groupBy(order) + in-array pair expansion instead of the
    self-join — one wide shuffle fewer, same edge set (round-6 A/B in
    PERF.md)."""
    from firmable_aus_etl_spark.operators.graph import (
        cooccurrence_pairs,
        graph_summary,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = cooccurrence_pairs(
        li, "l_orderkey", "l_partkey", min_count=2
    ).select("a", "b")
    return graph_summary(pairs)


_GOLDEN_ORACLE = f"""
WITH clusters AS ({_CLUSTER_ORACLE}),
j AS (
  SELECT c.cluster, d.doc_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
r AS (
  SELECT cluster, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster) AS n_members,
         sum(n_chars) OVER (PARTITION BY cluster) AS total_chars
  FROM j
)
SELECT cluster, doc_id AS golden_doc_id, n_chars AS golden_chars,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(total_chars AS BIGINT) AS total_chars
FROM r WHERE rn = 1
"""


@register("golden_records_documents", _GOLDEN_ORACLE)
def q_golden_records_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution survivorship: near-dup clusters (the
    near_dup_clusters connected components) collapsed to one GOLDEN
    RECORD each — the longest member wins, doc_id breaks ties — with
    cluster size and total chars retained for lineage. This is the
    terminal step of the reference's entity-matching purpose (merge
    matched company records into one canonical row,
    entity_matching_tfidf.py:121-140's ON CONFLICT upsert); here the
    merge policy is declarative and auditable. One window over the
    cluster key after the CC fixpoint."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = QUERIES["near_dup_clusters"](spark, sf_dir)
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster")
    r = j.select(
        "cluster",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id")))
        .alias("rn"),
        F.count("*").over(w).alias("n_members"),
        F.sum("n_chars").over(w).alias("total_chars"),
    )
    return r.filter(F.col("rn") == 1).select(
        "cluster",
        F.col("doc_id").alias("golden_doc_id"),
        F.col("n_chars").alias("golden_chars"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


@register(
    "source_vocab_overlap",
    f"""
    WITH tok AS (SELECT source, unnest({_TOKENS_SQL}) AS t FROM documents),
    f AS (SELECT DISTINCT source, t FROM tok),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY source),
    ix AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
      FROM f a JOIN f b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, inter, na.n AS n_a, nb.n AS n_b,
           round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
    FROM ix JOIN sz na ON na.source = src_a JOIN sz nb ON nb.source = src_b
    """,
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition audit: pairwise vocabulary Jaccard between
    sources — the set-similarity matrix that flags near-identical
    feeds before any per-document dedup runs. Token sets shrink to
    DISTINCT (source, token) first, so the self-join fans out only
    per shared token (bounded by #sources^2 per token), then exact
    set algebra: |A∩B| / (|A| + |B| - |A∩B|)."""
    from firmable_aus_etl_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select("source", F.explode(T.tokens("text")).alias("t"))
        .distinct()
    )
    sz = f.groupBy("source").agg(F.count("*").alias("n"))
    a = f.select(F.col("source").alias("src_a"), "t")
    b = f.select(F.col("source").alias("src_b"), "t")
    ix = (
        a.join(b, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        ix.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a", "src_b", "inter", "n_a", "n_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "customer_value_deciles",
    """
    WITH s AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT o_custkey, cents,
             ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
      FROM s
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
           round(min(cents) / 100.0, 2) AS min_spend,
           round(max(cents) / 100.0, 2) AS max_spend,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM t GROUP BY decile
    """,
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile segmentation: NTILE(10) over lifetime
    spend — the marketing RFM cut. Spend is exact integer cents and
    the ntile ORDER BY carries a custkey tie-break, so bucket edges
    cannot flip between engines (the verify-skill ntile gotcha).

    SCALE-SAFE two-phase ranking (round-3 verdict item #3 — the
    previous unpartitioned ntile() window put one row per customer
    through a single task):

    1. bucket the per-customer frame by deterministic cents value
       range (descending — bucket 0 holds the biggest spenders); ties
       share a cents value so they can never straddle a bucket edge,
       which keeps bucketing consistent with the (cents DESC,
       custkey) total order;
    2. row_number() per bucket — partitioned window, ~1/N of rows per
       task;
    3. global rank = bucket offset + local row number, with offsets
       from the <=N-row per-bucket count frame collected driver-side
       (bounded planner state);
    4. decile from rank by the exact NTILE formula (first n%10
       buckets get ceil(n/10) rows) — bit-identical to ntile(10),
       proven by the unchanged oracle.

    Only step 2 scales with data volume and it is fully partitioned."""
    from pyspark.sql import Window

    n_buckets = 32
    orders = load_table(spark, sf_dir, "orders")
    s = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    )
    rng = s.agg(F.min("cents").alias("__lo"), F.max("cents").alias("__hi"))
    bucketed = s.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        "cents",
        # descending value ranges: highest cents -> bucket 0
        F.floor(
            (F.col("__hi") - F.col("cents")).cast("double")
            * n_buckets
            / (F.col("__hi") - F.col("__lo") + 1).cast("double")
        ).cast("long").alias("__bkt"),
    )
    # consumed by BOTH the counts collect and the main ranking job —
    # checkpoint so the scan + per-customer groupBy + bucket lineage
    # computes once (r4 verdict item "What's wrong #2")
    bucketed = bucketed.localCheckpoint()
    # bounded planner state: <= n_buckets count rows -> rank offsets
    counts = sorted(
        bucketed.groupBy("__bkt").agg(F.count("*").alias("cnt")).collect(),
        key=lambda r: r["__bkt"],
    )
    total = sum(int(r["cnt"]) for r in counts)
    offsets, acc = {}, 0
    for r in counts:
        offsets[int(r["__bkt"])] = acc
        acc += int(r["cnt"])
    from firmable_aus_etl_spark.operators.partitioning import local_frame

    off_df = local_frame(
        spark, list(offsets.items()), "__bkt bigint, __off bigint"
    )
    wl = Window.partitionBy("__bkt").orderBy(F.col("cents").desc(), "o_custkey")
    ranked = (
        bucketed.withColumn("__rn", F.row_number().over(wl))
        .join(F.broadcast(off_df), "__bkt")
        .withColumn("__rank", F.col("__off") + F.col("__rn"))
    )
    # exact NTILE(k): first rem buckets take base+1 rows, rest base
    base, rem = total // 10, total % 10
    pivot = rem * (base + 1)
    decile = F.when(
        F.col("__rank") <= pivot,
        F.floor((F.col("__rank") - 1) / (base + 1)) + 1,
    ).otherwise(
        rem + F.floor((F.col("__rank") - pivot - 1) / max(base, 1)) + 1
    ).cast("int")
    t = ranked.withColumn("decile", decile)
    return t.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.min("cents") / 100.0, 2).alias("min_spend"),
        F.round(F.max("cents") / 100.0, 2).alias("max_spend"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "hourly_event_anomalies",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, hr, cnt,
             sum(cnt) OVER tw AS s,
             sum(cnt * cnt) OVER tw AS ss,
             count(*) OVER tw AS n
      FROM h
      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M') AS hour,
           cnt,
           CASE WHEN n >= 12 AND n * ss > s * s
                THEN round((CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / n)
                           / sqrt((CAST(n * ss - s * s AS DOUBLE))
                                  / (CAST(n AS DOUBLE) * (n - 1))), 6)
                END AS zscore
    FROM w
    """,
)
def q_hourly_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly scoring: each hour's event count against
    the TRAILING 24 hours (current hour excluded — no self-masking),
    z = (x - mean) / sample-std. Warm-up hours (fewer than 12 prior
    buckets) and zero-variance windows emit NULL rather than a fake
    score. All window sums are exact integers; mean/variance are
    derived in one identical arithmetic order on both engines, so the
    rounded z cannot drift. One aggregation + one window, both keyed
    by (event_type, hour) — at 100 TB the hourly pre-aggregation
    shrinks the window input by ~N/buckets before any sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").alias("cnt"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    w = h.select(
        "event_type",
        "hr",
        "cnt",
        F.sum("cnt").over(tw).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(tw).alias("ss"),
        F.count("*").over(tw).alias("n"),
    )
    var = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    z = (F.col("cnt").cast("double") - F.col("s").cast("double") / F.col("n")) / F.sqrt(var)
    return w.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm").alias("hour"),
        "cnt",
        F.when(
            (F.col("n") >= 12) & (F.col("n") * F.col("ss") > F.col("s") * F.col("s")),
            F.round(z, 6),
        ).alias("zscore"),
    )


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Generate the DuckDB twin of operators/graph.pagerank on the
    co-purchase graph — the driver loop unrolled into one CTE per
    iteration, from the same constants (single source of truth, the
    _portable_minhash_oracle pattern). All state is integer 1e-12
    units; the only float ops (rank/degree divide, damping multiply)
    are written in the identical IEEE order the operator uses."""
    scale = 10**12
    tp_num = scale - int(damping * scale)
    parts = [f"""
WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
und AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT src, CAST({scale} // n AS BIGINT) AS r FROM deg CROSS JOIN nn)"""]
    for i in range(iters):
        parts.append(f""",
r{i + 1} AS (
  SELECT agg.dst AS src,
         CAST({tp_num} // nn.n AS BIGINT)
           + CAST(floor({damping} * agg.s + 0.5) AS BIGINT) AS r
  FROM (
    SELECT u.dst,
           sum(CAST(floor(CAST(r.r AS DOUBLE) / d.deg) AS BIGINT)) AS s
    FROM und u JOIN r{i} r ON u.src = r.src JOIN deg d ON u.src = d.src
    GROUP BY u.dst
  ) agg CROSS JOIN nn
)""")
    parts.append(f"""
SELECT src AS node, r AS rank_e12
FROM r{iters} ORDER BY r DESC, src LIMIT 20""")
    return "".join(parts)


@register("copurchase_pagerank_top20", _pagerank_oracle())
def q_copurchase_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph centrality with an EXACT oracle: 5 PageRank
    rounds over the part co-purchase graph, top-20 parts. The operator
    (operators/graph.py:pagerank) keeps all state in integer 1e-12
    units so a driver-loop-on-Spark and a DuckDB unrolled-CTE twin
    agree bit-for-bit — the iterative-algorithm determinism story the
    connected-components family started, extended to weighted mass
    propagation. Per round: one join + one groupBy sum, lineage kept
    flat by localCheckpoint. Edges via cooccurrence_pairs (one
    groupBy + in-array expansion; round-6 A/B in PERF.md)."""
    from firmable_aus_etl_spark.operators.graph import (
        cooccurrence_pairs,
        pagerank,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = cooccurrence_pairs(
        li, "l_orderkey", "l_partkey", min_count=2
    ).select("a", "b")
    ranks = pagerank(pairs, iters=5, damping=0.85)
    return ranks.orderBy(F.col("rank_e12").desc(), F.col("node")).limit(20)


@register(
    "last_touch_attribution",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id, user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ), m AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             t.event_id AS touch_id, t.event_type AS touch_type,
             epoch_us(p.ts) - epoch_us(t.ts) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY t.ts DESC, t.event_id DESC) AS rn
      FROM p LEFT JOIN t
        ON p.user_id = t.user_id AND t.ts <= p.ts
       AND t.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT purchase_id, user_id, touch_id, touch_type,
           CAST(gap_us AS BIGINT) AS gap_us
    FROM m WHERE rn = 1
    """,
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing last-touch attribution: each purchase credited to the
    user's most recent view/click within the preceding hour (ties at
    one timestamp -> greatest touch id, unattributed purchases kept
    with NULLs). Rides the as-of operator's union+window merge — one
    shuffle+sort over touches+purchases, no per-purchase candidate
    fan-out even when a user has thousands of touches (where the
    naive range join the oracle uses goes quadratic per user)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        "ts",
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    out = joins.asof_join(
        purchases,
        touches,
        on="ts",
        by=["user_id"],
        value_cols=["touch_type", "touch_ts", "touch_id"],
        direction="backward",
        tolerance=F.expr("INTERVAL 1 HOUR"),
        tiebreak="touch_id",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("touch_ts"))).alias(
            "gap_us"
        ),
    )


@register(
    "doc_entropy_scores",
    f"""
    WITH d AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS t FROM documents),
    c AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
      FROM d GROUP BY doc_id, t
    ),
    s AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CAST(floor(cnt * ln(cnt) * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS st
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(floor((ln(n_tokens) - (CAST(st AS DOUBLE) / 1000000.0) / n_tokens)
                      * 1000000.0 + 0.5) AS BIGINT) AS entropy_e6
    FROM s
    """,
)
def q_doc_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the
    information-density quality signal (low entropy = repetitive /
    template text; complements the Gopher dup-fraction rules).
    Computed as ln(N) - (1/N) * sum(c * ln(c)) from integer counts;
    each c*ln(c) term is floor-scaled to integer 1e-6 units BEFORE the
    group sum, so partial-aggregation order cannot drift the result
    (the _cents rule applied to a transcendental), and the output is
    integer micro-nats. Two shuffles: (doc, token) count, then per-doc
    aggregate."""
    from firmable_aus_etl_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("cnt"))
    )
    term = F.floor(
        F.col("cnt") * F.log(F.col("cnt").cast("double")) * 1000000.0 + 0.5
    ).cast("long")
    s = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(term).alias("st"),
    )
    entropy = F.floor(
        (
            F.log(F.col("n_tokens").cast("double"))
            - (F.col("st").cast("double") / 1000000.0) / F.col("n_tokens")
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    return s.select(
        "doc_id", "n_tokens", "n_distinct", entropy.alias("entropy_e6")
    )


@register(
    "contrastive_negatives_sample",
    """
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    base AS (
      SELECT d.doc_id, j.j,
             CAST(list_sum(list_transform(range(1, 13), i ->
               (strpos('0123456789abcdef',
                       substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)),
                              CAST(i AS INTEGER), 1)) - 1) * 16 ** (12 - i)))
               AS BIGINT) % nn.n AS raw_neg,
             nn.n AS n
      FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) j
      CROSS JOIN nn
    ),
    negs AS (
      SELECT doc_id, j,
             CASE WHEN raw_neg = doc_id THEN (raw_neg + 1) % n
                  ELSE raw_neg END AS neg_id
      FROM base
    )
    SELECT g.doc_id, g.j, g.neg_id, d.n_chars AS neg_chars
    FROM negs g JOIN documents d ON d.doc_id = g.neg_id
    """,
)
def q_contrastive_negatives_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-negative pair generation for contrastive training: 4
    deterministic pseudo-random negatives per document, drawn by key
    hash over the contiguous id domain (self-draws remapped to the
    next id). No candidate fan-out and no sort: the draw is a map-side
    hash-mod and the only join fetches each negative's features by
    equi-key — the 100 TB shape for building in-batch-negative
    training sets (vs sampling by ORDER BY rand(), which is a global
    sort AND irreproducible across layouts)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nn = docs.agg(F.count("*").alias("n"))
    base = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
            "n",
        )
    )
    raw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % F.col("n")
    )
    negs = base.select(
        "doc_id",
        "j",
        F.when(raw == F.col("doc_id"), (raw + 1) % F.col("n"))
        .otherwise(raw)
        .alias("neg_id"),
    )
    feats = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("n_chars").alias("neg_chars")
    )
    return negs.join(feats, "neg_id").select("doc_id", "j", "neg_id", "neg_chars")


@register(
    "training_corpus_report",
    f"""
    WITH f AS (
      SELECT doc_id, source, lang, n_chars, md5({_NORM_SQL}) AS fp,
             16 * (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
               + (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
    ),
    dup AS (
      SELECT doc_id, source,
             CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1
                  THEN 1 ELSE 0 END AS is_dup
      FROM f
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.is_dup) AS BIGINT) AS n_dup_docs,
           CAST(sum(CASE WHEN f.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           CAST(sum(f.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN f.bucket < 204 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN f.bucket >= 204 AND f.bucket < 230 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN f.bucket >= 230 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM f JOIN dup d ON d.doc_id = f.doc_id
    GROUP BY f.source
    """,
)
def q_training_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition dashboard — the one-pass report a
    training-data pipeline gates releases on: volume, exact-duplicate
    docs (non-first fingerprint occurrences, the rows dedup would
    drop), English share, and leakage-proof split sizes (same md5
    bucket arithmetic as train_test_split_hash, so the report and the
    split can never disagree). One fingerprint window + one groupBy;
    every count is integer."""
    from firmable_aus_etl_spark.functions.similarity import normalize_name
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    f = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.md5(normalize_name(F.col("text"))).alias("fp"),
        bucket.alias("bucket"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    d = f.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("n_en"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum((F.col("bucket") < 204).cast("int")).cast("long").alias("n_train"),
        F.sum(((F.col("bucket") >= 204) & (F.col("bucket") < 230)).cast("int"))
        .cast("long")
        .alias("n_val"),
        F.sum((F.col("bucket") >= 230).cast("int")).cast("long").alias("n_test"),
    )


@register(
    "conversion_by_touch_type",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id, user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ), m AS (
      SELECT p.event_id AS purchase_id,
             t.event_type AS touch_type,
             epoch_us(p.ts) - epoch_us(t.ts) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY t.ts DESC, t.event_id DESC) AS rn
      FROM p LEFT JOIN t
        ON p.user_id = t.user_id AND t.ts <= p.ts
       AND t.ts >= p.ts - INTERVAL 1 HOUR
    ), a AS (SELECT * FROM m WHERE rn = 1)
    SELECT coalesce(touch_type, 'unattributed') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us
    FROM a GROUP BY 1
    """,
)
def q_conversion_by_touch_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution rollup: purchases credited per last-touch channel
    (view / click / unattributed) with the summed decision gap —
    integer micros, so no FP in the report. Rides the same as-of
    machinery as last_touch_attribution, then a 3-row aggregate."""
    att = QUERIES["last_touch_attribution"](spark, sf_dir)
    return (
        att.select(
            F.coalesce(F.col("touch_type"), F.lit("unattributed")).alias(
                "touch_type"
            ),
            "gap_us",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
        )
    )


@register(
    "winsorized_order_stats",
    """
    WITH o AS (
      SELECT c_mktsegment,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    q AS (
      SELECT c_mktsegment,
             round(quantile_cont(cents, 0.01), 4) AS p01,
             round(quantile_cont(cents, 0.99), 4) AS p99
      FROM o GROUP BY c_mktsegment
    ),
    w AS (
      SELECT o.c_mktsegment,
             CAST(least(greatest(CAST(o.cents AS DOUBLE), q.p01), q.p99)
                  AS DOUBLE) AS wc,
             CASE WHEN o.cents < q.p01 OR o.cents > q.p99 THEN 1 ELSE 0 END
               AS clipped
      FROM o JOIN q ON o.c_mktsegment = q.c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(clipped) AS BIGINT) AS n_clipped,
           CAST(sum(CAST(floor(wc + 0.5) AS BIGINT)) AS BIGINT) AS winsorized_cents
    FROM w GROUP BY c_mktsegment
    """,
)
def q_winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust totals per segment: order values clamped to
    the [p1, p99] exact percentiles before summing — the outlier
    treatment a mean-based KPI needs (sibling of the median/MAD
    profile). Percentiles are computed on integer cents and rounded to
    4 before reuse (the cross-engine exact-percentile idiom); each
    clamped value is floor-rounded back to integer cents so the final
    sums are order-free."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "cents"
    )
    q = o.groupBy("c_mktsegment").agg(
        F.round(F.percentile("cents", F.lit(0.01)), 4).alias("p01"),
        F.round(F.percentile("cents", F.lit(0.99)), 4).alias("p99"),
    )
    w = o.join(F.broadcast(q), "c_mktsegment").select(
        "c_mktsegment",
        F.least(
            F.greatest(F.col("cents").cast("double"), F.col("p01")), F.col("p99")
        ).alias("wc"),
        (
            (F.col("cents") < F.col("p01")) | (F.col("cents") > F.col("p99"))
        ).cast("int").alias("clipped"),
    )
    return w.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.sum(F.floor(F.col("wc") + 0.5).cast("long")).cast("long").alias(
            "winsorized_cents"
        ),
    )


@register(
    "attribution_gap_percentiles",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id, user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ), m AS (
      SELECT p.event_id AS purchase_id,
             t.event_type AS touch_type,
             epoch_us(p.ts) - epoch_us(t.ts) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY t.ts DESC, t.event_id DESC) AS rn
      FROM p JOIN t
        ON p.user_id = t.user_id AND t.ts <= p.ts
       AND t.ts >= p.ts - INTERVAL 1 HOUR
    ), a AS (SELECT * FROM m WHERE rn = 1)
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(gap_us, 0.5), 4) AS p50_gap_us,
           round(quantile_cont(gap_us, 0.9), 4) AS p90_gap_us
    FROM a GROUP BY touch_type
    """,
)
def q_attribution_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per attributed channel: exact p50 /
    p90 of the purchase-to-last-touch gap (integer micros through the
    rounded exact-percentile idiom). Attributed purchases only — the
    inner join twin of last_touch_attribution's left join."""
    att = QUERIES["last_touch_attribution"](spark, sf_dir).filter(
        F.col("touch_id").isNotNull()
    )
    return att.groupBy("touch_type").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 4).alias("p50_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.9)), 4).alias("p90_gap_us"),
    )


@register_pipeline("bpe_token_stats")  # rows-only: the merge sequence is a
# driver-loop fixpoint over data-dependent argmaxes — no SQL twin;
# exactness is covered by tests/test_bpe.py's parity with the textbook
# Python trainer on identical word frequencies + lossless round-trip
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-construction stage: train 16 BPE merges on the corpus
    (distributed trainer over the word-frequency sufficient statistic,
    operators/bpe.py), encode every document, report per-lang token
    totals and the compression ratio vs character-level."""
    from firmable_aus_etl_spark.operators.bpe import encode_bpe, train_bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    merges = train_bpe_merges(docs, n_merges=16)
    enc = encode_bpe(docs, merges)
    joined = enc.join(
        docs.select(F.col("doc_id").alias("__id"), "lang", F.length("text").alias("n_chars")),
        "__id",
    )
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_chars"), 4
        ).alias("tokens_per_char"),
    )


@register(
    "order_weekday_profile",
    """
    SELECT CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 3) % 7
                AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def q_order_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar profile: orders and revenue by day-of-week. The
    weekday derives from epoch-day arithmetic ((days + 3) mod 7, 0 =
    Monday) rather than each engine's dayofweek() — DuckDB numbers
    Sunday=0, Spark numbers Sunday=1, and locale settings can shift
    both; epoch math is engine- and locale-free. Integer-cents
    revenue, one partial-aggregated groupBy on a 7-value key."""
    orders = load_table(spark, sf_dir, "orders")
    dow = (
        (F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")) + 3)
        % 7
    ).cast("long")
    return orders.groupBy(dow.alias("dow")).agg(
        F.count("*").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents"),
    )


@register(
    "customer_ltv_by_first_order_year",
    """
    WITH f AS (
      SELECT o_custkey,
             min(EXTRACT(year FROM o_orderdate)) AS cohort_year,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(cohort_year AS BIGINT) AS cohort_year,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS total_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS avg_ltv_cents
    FROM f GROUP BY 1
    """,
)
def q_customer_ltv_by_first_order_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort lifetime value: customers grouped by their
    FIRST order's year, with cohort size, lifetime orders and revenue,
    and average LTV in integer cents (floor division — exact on both
    engines, no FP mean). Two partial-aggregated groupBys: per
    customer, then per cohort year."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year"),
        F.count("*").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("cents"),
    )
    agg_ = f.groupBy(
        F.col("cohort_year").cast("long").alias("cohort_year")
    ).agg(
        F.count("*").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("total_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    # integer `div`, not floor(double/): a double quotient one ulp above
    # an integer boundary would floor differently from DuckDB's `//`
    return agg_.withColumn(
        "avg_ltv_cents",
        F.expr("total_cents div n_customers").cast("long"),
    )

