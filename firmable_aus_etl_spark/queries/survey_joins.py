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
# Remaining SURVEY §2 coverage: nl/sampled/neighbor joins, metrics
# emitter, serial ids, anti-join insert side.
# =========================================================================

_NL_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_name,
         regexp_replace(lower(trim(c_name)), '^[a-z]+#', '') AS norm
  FROM customer
), s AS (
  SELECT s_suppkey, s_name,
         regexp_replace(lower(trim(s_name)), '^[a-z]+#', '') AS norm
  FROM supplier WHERE s_suppkey < 20
), scored AS (
  SELECT c.c_custkey, s.s_suppkey,
         100.0 * (1.0 - CAST(levenshtein(c.norm, s.norm) AS DOUBLE)
                  / CAST(greatest(length(c.norm), length(s.norm), 1) AS DOUBLE)) AS score
  FROM c CROSS JOIN s
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY score DESC, s_suppkey) AS rn
  FROM scored WHERE score >= 70.0
)
SELECT c_custkey, s_suppkey, round(score, 2) AS score FROM ranked WHERE rn = 1
"""


@register("nl_similarity_sampled_top1", _NL_ORACLE)
def q_nl_similarity_sampled_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op19/op23 — unblocked fuzzy θ-join against a deterministic sample
    (reference: entity_matching.py:28-43; sampled variant
    entity_matching_spark.py:28-58, θ>=70 at :41). The sample is a key
    filter (not LIMIT) so both engines pick identical rows."""
    strip = lambda c: F.regexp_replace(F.lower(F.trim(c)), "^[a-z]+#", "")  # noqa: E731
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", strip(F.col("c_name")).alias("c_norm")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 20)
        .select("s_suppkey", strip(F.col("s_name")).alias("s_norm"))
    )
    out = joins.nl_similarity_join(
        cust, F.broadcast(supp), "c_norm", "s_norm",
        threshold=70.0, k=1, left_id="c_custkey", right_tiebreak="s_suppkey",
    )
    return out.select("c_custkey", "s_suppkey", F.round("score", 2).alias("score"))


_NEIGHBOR_ORACLE = """
WITH c AS (
  SELECT c_custkey, regexp_replace(lower(trim(c_name)), '^[a-z]+#', '') AS norm
  FROM customer
), s AS (
  SELECT s_suppkey, regexp_replace(lower(trim(s_name)), '^[a-z]+#', '') AS norm
  FROM supplier
), scored AS (
  SELECT c.c_custkey, s.s_suppkey,
         100.0 * (1.0 - CAST(levenshtein(c.norm, s.norm) AS DOUBLE)
                  / CAST(greatest(length(c.norm), length(s.norm), 1) AS DOUBLE)) AS score
  FROM c JOIN s ON substr(c.norm, length(c.norm), 1) = substr(s.norm, length(s.norm), 1)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY score DESC, s_suppkey) AS rn
  FROM scored WHERE score >= 80.0
)
SELECT c_custkey, s_suppkey, round(score, 2) AS score FROM ranked WHERE rn = 1
"""


@register("neighbor_blocked_top1", _NEIGHBOR_ORACLE)
def q_neighbor_blocked_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op21 — prefix-neighborhood blocking as a coarser (1-char) block
    key: a superset of the exact-block candidate set (reference:
    entity_matching_optimized.py:84-105)."""
    strip = lambda c: F.regexp_replace(F.lower(F.trim(c)), "^[a-z]+#", "")  # noqa: E731
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", strip(F.col("c_name")).alias("c_norm")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", strip(F.col("s_name")).alias("s_norm")
    )
    out = joins.neighbor_blocked_join(
        cust, supp, "c_norm", "s_norm",
        block=lambda c: F.substring(c, -1, 1),
        threshold=80.0, k=1, left_id="c_custkey", right_tiebreak="s_suppkey",
        broadcast_right=True,
    )
    return out.select("c_custkey", "s_suppkey", F.round("score", 2).alias("score"))


_METRICS_ORACLE = """
WITH m AS (
  SELECT round(CAST(count(*) AS DOUBLE), 2) AS row_count,
         round(100.0 * sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) / count(*), 2) AS completeness_text,
         round(100.0 * sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) / count(*), 2) AS completeness_lang,
         round(100.0 * count(DISTINCT doc_id) / count(*), 2) AS uniqueness_doc_id
  FROM documents
)
SELECT 'docs_run' AS pipeline_run_id, metric_name, metric_value, threshold_value,
       CASE WHEN metric_value >= threshold_value THEN 'pass' ELSE 'fail' END AS status
FROM (
  SELECT 'row_count' AS metric_name, row_count AS metric_value, CAST(1.0 AS DOUBLE) AS threshold_value FROM m
  UNION ALL SELECT 'completeness_text', completeness_text, CAST(99.0 AS DOUBLE) FROM m
  UNION ALL SELECT 'completeness_lang', completeness_lang, CAST(99.0 AS DOUBLE) FROM m
  UNION ALL SELECT 'uniqueness_doc_id', uniqueness_doc_id, CAST(100.0 AS DOUBLE) FROM m
)
"""


@register("quality_metrics_documents", _METRICS_ORACLE)
def q_quality_metrics_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op32 — data-quality metric rows (reference: schema_postgres.sql:
    83-91; taxonomy ETL_PIPELINE_AUS/README.md:213-218): one agg pass,
    unpivoted to (name, value, threshold, status)."""
    docs = load_table(spark, sf_dir, "documents")
    return agg.quality_metrics(
        docs,
        run_id="docs_run",
        required_cols=["text", "lang"],
        unique_key="doc_id",
        thresholds={
            "row_count": 1.0,
            "completeness_text": 99.0,
            "completeness_lang": 99.0,
            "uniqueness_doc_id": 100.0,
        },
    )


@register(
    "serial_id_nations",
    """
    SELECT CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS id, n_name
    FROM nation
    """,
)
def q_serial_id_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op34 — deterministic SERIAL-style id over a dimension table
    (reference: SERIAL PRIMARY KEY, schema_postgres.sql:23). The global
    window is intentional here: this variant is for small dims only;
    monotonic_id is the fact-table path."""
    from firmable_aus_etl_spark.operators.windows import serial_id

    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return serial_id(nation, ["n_name"]).select("id", "n_name")


@register(
    "insert_only_orders",
    """
    WITH updates AS (
      SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT u.o_orderkey, u.o_custkey, u.o_totalprice
    FROM updates u LEFT JOIN orders e ON u.o_orderkey = e.o_orderkey
    WHERE e.o_orderkey IS NULL
    """,
)
def q_insert_only_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op24 insert side as a left-anti join (SURVEY §2.4 note): only
    genuinely-new keys survive."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000)
        .unionByName(orders.filter(F.col("o_orderkey") % 11 == 0))
    )
    return joins.insert_only_rows(orders, updates, ["o_orderkey"])


@register(
    "doc_repetition_scores",
    f"""
    WITH d AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                            i -> array_to_string(w[i:i+1], ' ')) AS grams
      FROM d
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             / CAST(greatest(len(grams), 1) AS DOUBLE) AS dup_ratio
    FROM g
    """,
)
def q_doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: Gopher-style intra-document repetition — the
    fraction of duplicate word bigrams. Integer-count division, so the
    value hashes bit-identically against DuckDB with no rounding."""
    from firmable_aus_etl_spark.functions import text as T
    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = T.word_ngrams("text", 2)
    return docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        T.dup_ngram_ratio("text", 2).alias("dup_ratio"),
    )


@register(
    "top_terms_per_lang",
    f"""
    WITH d AS (SELECT doc_id, lang, unnest(list_distinct({_TOKENS_SQL})) AS t
               FROM documents),
    tf AS (SELECT lang, t, count(*) AS doc_freq FROM d GROUP BY lang, t),
    r AS (SELECT lang, t AS term, CAST(doc_freq AS BIGINT) AS doc_freq,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY doc_freq DESC, t) AS rnk
          FROM tf)
    SELECT lang, term, doc_freq, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def q_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: top-10 terms per language by document frequency
    (distinct-per-doc explode -> count -> WindowGroupLimit top-k). The
    per-corpus vocabulary view every tokenizer/quality audit starts
    from."""
    from firmable_aus_etl_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(T.tokens("text"))).alias("t")
    )
    tf = d.groupBy("lang", "t").agg(F.count("*").alias("doc_freq"))
    top = topk_per_group(
        tf,
        ["lang"],
        [F.col("doc_freq").desc(), F.col("t").asc()],
        k=10,
        keep_rank=True,
        rank_col="rnk",
    )
    return top.select(
        "lang",
        F.col("t").alias("term"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.col("rnk").cast("long").alias("rnk"),
    )


@register(
    "order_price_stats",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)                         AS cnt,
           round(quantile_cont(o_totalprice, 0.5), 4)       AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4)      AS p95,
           round(stddev_samp(o_totalprice), 4)              AS sd,
           round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6)
                                                            AS price_cust_corr
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_order_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (§2.5 widening): exact interpolated
    percentiles, sample stddev, Pearson correlation per priority class.
    All JVM-side aggregate expressions — one hash-shuffle on the group
    key with map-side partials; values rounded on both engines since
    variance/corr accumulate in float order."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd"),
        F.round(
            F.corr("o_totalprice", F.col("o_custkey").cast("double")), 6
        ).alias("price_cust_corr"),
    )


@register(
    "customers_with_urgent_orders",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-SEMI join (the one join flavor the §2.4 note leaves to the
    engine): customers having at least one urgent order, counted per
    segment. Plans as a broadcast/shuffled semi join — the probe side
    never duplicates rows, so the count needs no post-join dedup."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register_pipeline("minhash_verified_near_dups")  # rows-only: LSH recall is probabilistic
def q_minhash_verified_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup SCALE pipeline: MinHash-LSH candidates + exact
    Jaccard verify on candidates only, xxhash64 fast path with
    AUTO-SIZED banding (dedup.auto_minhash_bands — fixed 2-row bands
    are the round-10 decade-3 cliff: background candidate mass
    Theta(n^2 * E[J_bg^2])). tests/test_dedup.py asserts it recovers
    the exact ngram_jaccard_near_dups pairs on the fixture (recall
    ~0.9 at the 0.5 design Jaccard by the sizing law, ~1.0 for the
    fixture's high-jaccard planted dups)."""
    docs = load_table(spark, sf_dir, "documents")
    rows, bands = dedup.auto_minhash_bands(
        table_stat(sf_dir, "documents", "rows", docs.count)
    )
    return dedup.verified_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        shingle_n=3,
        num_hashes=rows * bands,
        bands=bands,
    )

