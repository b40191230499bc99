"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (driver-facing): the LAST stdout line is ONE compact
JSON object {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "sentinel": [pre, post]} kept under
1800 bytes — the driver tails only the final ~2000 bytes of output, so
anything bigger is truncated into unparseability (round-2 failure mode:
BENCH_r02 landed "parsed": null). The FULL record (all runs, normalized
times, methodology) is written to BENCH_LOCAL_latest.json beside this
file instead of stdout.

Contention sentinel: a fixed CPU-bound loop is timed before and after
the query runs. On an idle box it takes SENTINEL_REF seconds; under
external load it stretches proportionally, so sentinel/SENTINEL_REF is
a slowdown factor that makes round-over-round comparisons attributable
(round 2: 16/19 shared queries drifted 1.15-1.6x purely from a busy
shared box). queries_normalized in the side file = raw * ref/sentinel.

Execution is forced with the noop sink (full computation, no driver
collect) so timings measure the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from firmable_aus_etl_spark.queries import PIPELINE_QUERIES, QUERIES  # noqa: E402
from firmable_aus_etl_spark.session import get_session  # noqa: E402

# Bench surface = driver-sampleable oracle-bearing queries PLUS the
# rows-only pipeline surface (xxhash/trained physical twins etc.) —
# perf coverage is wider than the correctness-sampleable registry.
ALL_QUERIES = {**QUERIES, **PIPELINE_QUERIES}

# Headline set: one per operator family that matters at scale.
HEADLINE = [
    "pricing_summary",            # scan + group agg
    "revenue_by_nation",          # fact joins + broadcast dims
    "similarity_join_blocked_top1",  # blocked similarity join + window
    "topk_lineitems_per_order",   # window top-k
    "merge_upsert_orders",        # full-outer merge
    "dedup_documents_keyed",      # keyed dedup window
    "events_json_agg",            # JSON extraction + agg
    "argmax_order_per_customer",  # map-side argmax agg
    "tumbling_window_events",     # event-time window agg
    "minhash_verified_near_dups",  # near-dup scale path: LSH + verify
    "ann_cosine_top3_per_label",  # vector similarity top-k
    "tfidf_cosine_top1",          # sparse TF-IDF cosine join (adaptive)
    "quality_score_documents",    # text-quality scoring scan
    "ngram_jaccard_prefix_near_dups",  # exact set-similarity, prefix-filtered
    "asof_error_last_purchase",   # as-of join (union+window merge)
    "errors_within_hour_after_purchase",  # range join (binned equi-join)
    "time_rollup_events",         # multi-resolution rollup, one pass
    "doc_chunks_overlap",         # LLM chunking: sequence+explode+slice
    "interval_islands_events",    # gaps-and-islands window merge
    "near_dup_clusters",          # connected-components dedup clustering
    "decontaminate_documents",    # eval-set 8-gram overlap flagging
    "remove_repeated_segments",   # C4-style cross-doc segment removal
    "remove_repeated_spans",      # sliding-gram span removal + reassembly
    "embedding_cosine_near_dups",  # LSH-banded vector dedup + verify
    "suppliers_kept_waiting",     # decorrelated EXISTS/NOT-EXISTS depth join
    "semantic_dedup_cell_blocked",  # cluster-blocked (SemDeDup) vector dedup
    "gopher_rules_documents",     # composed quality rule-set scan
    "overlapping_activity_windows",  # two-sided binned interval-overlap join
    "copurchase_graph_summary",   # triangle counting (oriented two-join)
    "bigram_pmi_documents",       # collocation PMI (corpus-total stats)
    "hourly_event_anomalies",     # trailing-window anomaly scoring
    "doc_bigram_perplexity",      # corpus bigram-LM cross-entropy scoring
    "lsh_multiprobe_ann_top3",    # query-directed multi-probe ANN (r4)
    "reference_pipeline_matches",  # the reference's whole DAG, end to end (r6)
    "similarity_join_salted_top1",  # hot-block grid-salted fuzzy join (r7)
    "ngram_jaccard_pruned_near_dups",  # auto df-pruned exact Jaccard (r7)
    "tfidf_cosine_simhash_top1",  # weighted sign-LSH cosine route, auto-sized (r8/r9)
    "tfidf_cosine_tau_routed",    # tau-0.7 route: exact branch at sf0.1 (r9)
    "bm25_search_top10",          # BM25 top-k retrieval serving join (r8)
    "bloom_decontaminate_documents",  # broadcast-bloom decontamination (r8)
    "cms_gram_counts_top50",      # count-min frequency sketch (r8)
    "nb_language_confusion",      # trained NB classifier, oracle-gated (r8)
]

# Iterations of the sentinel loop; the reference time was calibrated
# on the round-3 builder box (median 0.125 s) so slowdown ~= 1.0 there.
SENTINEL_ITERS = 2_500_000
SENTINEL_REF = float(os.environ.get("SPARK_GRAFT_SENTINEL_REF", "0.125"))


def _sentinel() -> float:
    """Time a fixed single-core busy loop (pure Python arithmetic —
    deterministic work, no allocation), median of 3 to shed one-off
    scheduler blips while still reflecting sustained load."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(SENTINEL_ITERS):
            acc += i & 1023
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return round(samples[1], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in ALL_QUERIES]

    sentinel_pre = _sentinel()

    # Methodology: each query runs RUNS times; the headline number is
    # the per-query MIN (all runs reported in the side file). The first
    # one or two executions of a plan in a fresh JVM are dominated by
    # whole-stage-codegen compilation + tiered JIT (measured: up to ~8x
    # steady state, and full ramp takes ~3 executions), a fixed cost
    # that vanishes on any long-lived cluster and says nothing about
    # plan efficiency at scale. Min-of-N is the standard way to read
    # through both that ramp and single-machine scheduling noise.
    # Round-11 (verdict item 5): default runs 3 -> 5 and the side file
    # additionally reports the per-query MEDIAN — min-of-N is exactly
    # the statistic that cold-JVM bimodality and page-cache warm-up
    # pollute, so round-over-round comparisons should be able to read
    # a position-robust statistic without any contract change.
    runs_n = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    all_runs: dict[str, list[float]] = {n: [] for n in names}
    # Recurring planner statistics (tfidf plan sample, route mass,
    # documents row count, bloom eval count) go through
    # datasets.table_stat, memoized per (table, file mtime), so only
    # run 1 pays them; each miss's wall cost sits in TABLE_STATS and is
    # reported per query as sizing_jobs_sec (verdict item 6) instead of
    # silently vanishing from the min.
    from firmable_aus_etl_spark.datasets import TABLE_STATS

    sizing_sec: dict[str, float] = {}
    for _ in range(runs_n):
        for name in names:
            s0 = sum(sec for _, sec in TABLE_STATS.values())
            t0 = time.time()
            ALL_QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            all_runs[name].append(round(time.time() - t0, 3))
            ds = sum(sec for _, sec in TABLE_STATS.values()) - s0
            if ds > 0.0005:
                sizing_sec[name] = round(sizing_sec.get(name, 0.0) + ds, 3)

    sentinel_post = _sentinel()

    timings = {name: min(r) for name, r in all_runs.items()}
    medians = {
        name: sorted(r)[len(r) // 2] if len(r) % 2
        else round((sorted(r)[len(r) // 2 - 1] + sorted(r)[len(r) // 2]) / 2, 3)
        for name, r in all_runs.items()
    }
    total = round(sum(timings.values()), 3)
    # slowdown factor: >1 means the box was busier than the reference
    # calibration; normalized = raw / slowdown.
    slowdown = round(((sentinel_pre + sentinel_post) / 2.0) / SENTINEL_REF, 3)
    norm = {n: round(t / slowdown, 3) for n, t in timings.items()}

    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_normalized": norm,
        "sizing_jobs_sec": sizing_sec,
        "all_runs": all_runs,
        "sentinel": {
            "pre_sec": sentinel_pre,
            "post_sec": sentinel_post,
            "ref_sec": SENTINEL_REF,
            "slowdown": slowdown,
        },
        "methodology": (
            f"each query executed {runs_n}x in one JVM; reported time is the "
            "min (codegen/JIT ramp and scheduler noise excluded); all runs "
            "and the per-query median disclosed; sentinel = fixed busy-loop "
            "timed before/after, slowdown = mean/ref, normalized = "
            "raw/slowdown; adaptive sizing stats (tfidf plan/route, docs "
            "count, bloom eval count) are memoized per (path, mtime), so "
            "min-of-N excludes those planning jobs after run 1 — their "
            "measured wall cost is reported per query in sizing_jobs_sec "
            "instead of being silently dropped"
        ),
        "sf": sf,
    }
    side_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_latest.json"
    )
    with open(side_path, "w") as fh:
        json.dump(full, fh, indent=1)

    # Compact final line — MUST stay under the driver's ~2000-byte tail
    # capture (asserted < 1800 in tests/test_bench_contract.py).
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sentinel": [sentinel_pre, sentinel_post, SENTINEL_REF, slowdown],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line.encode()) >= 1800:
        # NEVER crash here (an assert would be stripped under -O and a
        # crash emits no final line at all — the round-2 "parsed: null"
        # failure this contract exists to prevent): degrade to a
        # truncated-but-valid object. Per-query timings live in the
        # side file regardless.
        compact = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": {},
            "queries_truncated": len(timings),
            "sf": sf,
            "sentinel": [sentinel_pre, sentinel_post, SENTINEL_REF, slowdown],
        }
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
