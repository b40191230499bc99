"""Empirical scale-curve measurement (round-5 verdict item #2).

Runs the heaviest headline queries at synthetic sf0.1 / sf0.3 / sf1
(scripts/gen_scaledata.py) plus the REAL driver sf0.1 fixture as a
generator-validity anchor, min-of-N in one JVM with the bench noop
sink, and prints a JSON record with per-query wall times and the
fitted scaling exponent alpha where t ~ sf^alpha (least-squares slope
of log t vs log sf over the synthetic points).

alpha <= ~1.0 = linear scaling; the verdict's acceptance bar is
alpha <= ~1.3 across the decade. Sub-linear alphas at the small end
mean fixed stage/JIT overhead still dominates — disclosed, not hidden.

Usage: python scripts/run_scaling.py [runs]
Expects /tmp/scaledata/sf{0.1,0.3,1} to exist (gen_scaledata.py).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from firmable_aus_etl_spark.queries import PIPELINE_QUERIES, QUERIES  # noqa: E402
from firmable_aus_etl_spark.session import get_session  # noqa: E402

ALL = {**QUERIES, **PIPELINE_QUERIES}

SCALES = [
    ("real0.1", "/root/testdata/sf0.1", 0.1),
    ("syn0.1", "/tmp/scaledata/sf0.1", 0.1),
    ("syn0.3", "/tmp/scaledata/sf0.3", 0.3),
    ("syn1", "/tmp/scaledata/sf1", 1.0),
    ("syn3", "/tmp/scaledata/sf3", 3.0),
    ("syn10", "/tmp/scaledata/sf10", 10.0),
    ("syn30", "/tmp/scaledata/sf30", 30.0),
]

# syn30 (round-10 verdict Next #1): the THIRD data decade's endpoint
# for the designated deep routes. Both prior cliffs (the max_planes
# clamp at syn10, fixed banding at zipf10) were caught exactly one
# decade past the existing fit — this is the same cliff-hunting method
# extended once more. Same membership as SYN10_SET: routes already
# retired (flat IVF) or output-bound there (cosine family on the
# uniform vocab) stay excluded for the reasons on record.
SYN30_SET = {
    "minhash_dedup_clusters",
    "lsh_multiprobe_ann_top3",
    "minhash_verified_near_dups",
    "reference_pipeline_matches",
    "bm25_search_top10",
    "bloom_decontaminate_documents",
    "cms_gram_counts_top50",
    "hll_distinct_tokens_by_source",
    "nb_language_confusion",
}

# syn10 (round-8b): a FULL second decade (0.1 -> 10) for the designated
# sub-linear routes only. The exact-join family is excluded by design:
# its syn3 quadratic wall is measured and argued inherent (SCALING.md
# round-7/8 — uniform vocab => df ∝ n => any exact inverted-index join
# is pair-bound, and at syn3 even true pair DENSITY grows ~n^2), so a
# syn10 point would spend ~an hour re-proving a disclosed cliff.
SYN10_SET = {
    "minhash_dedup_clusters",      # designated Jaccard-dedup DAG
    "lsh_multiprobe_ann_top3",     # designated ANN route
    # NOTE (r9): the cosine routes are deliberately NOT in SYN10 — on
    # the uniform-vocab syn corpus the TRUE cosine>=0.7 pair density
    # is Theta(n^2) (measured: syn10 simhash spilled >67 GB and died),
    # so no candidate algorithm can be sub-quadratic THERE; their
    # deep-scale dimension is the zipf corpus (ZIPF10_SET), where
    # output is sparse and the occupancy sizing holds.
    "minhash_verified_near_dups",  # LSH+verify pipeline
    "reference_pipeline_matches",  # the whole reference DAG
    "bm25_search_top10",           # retrieval serving join (linear index)
    # round-8b sketches: bounded-state governance ops, expected ~linear
    "bloom_decontaminate_documents",
    "cms_gram_counts_top50",
    "hll_distinct_tokens_by_source",
    # round-8b: NB training+scoring — one counting pass + broadcast probe
    "nb_language_confusion",
}

# syn3 (round-7): 1.5-decade fits for the designated scale paths only —
# the full set at 3x data would spend most of its wall time re-proving
# already-linear scans
SYN3_SET = {
    "near_dup_clusters",
    "minhash_dedup_clusters",
    "reference_pipeline_matches",
    "lsh_multiprobe_ann_top3",
    "ngram_jaccard_prefix_near_dups",
    "tfidf_cosine_top1",
    # round-8 (verdict Next #2b/#2c/#4): the naive twin at syn3 shows
    # whether adaptive's syn3 time IS the naive floor; the simhash LSH
    # route is the designated escape; pruned Jaccard gets its 1.5-decade
    # fit
    "tfidf_cosine_top1_blocked",
    "tfidf_cosine_simhash_top1",
    "ngram_jaccard_pruned_near_dups",
    # round-8: the auto-routed query — exact below 1024 cand/doc
    # (real0.1, syn0.1), LSH above (syn0.3+, zipf1+): the fit should
    # BEND where the route flips
    "tfidf_cosine_routed",
    # round-8b: retrieval stays linear even where the join families cliff
    "bm25_search_top10",
    # round-8b sketch family: full curves through syn3
    "bloom_decontaminate_documents",
    "cms_gram_counts_top50",
    "hll_distinct_tokens_by_source",
    "nb_language_confusion",
}

# queries too expensive for min-of-N at their largest scale: one run,
# disclosed (worst case ~190 s each at syn3; min-of-3 would triple a
# number whose JIT spread is small relative to its magnitude)
RUNS_ONCE_AT = {
    ("tfidf_cosine_top1_blocked", "syn3"),
    ("tfidf_cosine_top1", "syn3"),
    # rule self-deactivates on the uniform vocab -> exact join + df pass,
    # ~140 s/run at syn3 (the honest quadratic-with-rule-off point)
    ("ngram_jaccard_pruned_near_dups", "syn3"),
}

# Zipf/boilerplate corpus (gen_zipfdocs.py): the df ∝ n regime the
# auto_prune_df rule exists for. Documents-only dirs; only the
# documents-reading queries run here.
ZIPF_SCALES = [
    ("zipf0.1", "/tmp/zipfdocs/sf0.1", 0.1),
    ("zipf0.3", "/tmp/zipfdocs/sf0.3", 0.3),
    ("zipf1", "/tmp/zipfdocs/sf1", 1.0),
    ("zipf3", "/tmp/zipfdocs/sf3", 3.0),
    ("zipf10", "/tmp/zipfdocs/sf10", 10.0),
    ("zipf30", "/tmp/zipfdocs/sf30", 30.0),
]

# zipf30 (round-10 Next #1): third-decade endpoint on the realistic
# corpus shape — the cosine scale routes' deep dimension. Same
# membership as ZIPF10_SET.
ZIPF30_SET = {
    "ngram_jaccard_pruned_near_dups",
    "tfidf_cosine_simhash_top1",
    "tfidf_cosine_routed",
    "tfidf_cosine_tau_routed",
    "bm25_search_top10",
}

# zipf10 (round-8b): second-decade points on the realistic corpus
# shape, scale routes only — the EXACT cosine join is excluded (its
# zipf tail is 1.69 and accelerating, measured through zipf3; a zipf10
# point is ~10 min of re-proving the regime the router already avoids).
ZIPF10_SET = {
    "ngram_jaccard_pruned_near_dups",  # designated exact-Jaccard default
    "tfidf_cosine_simhash_top1",       # designated cosine scale route
    "tfidf_cosine_routed",             # auto-router (takes LSH here)
    "tfidf_cosine_tau_routed",         # round-9: tau capped-banding arm
    "bm25_search_top10",               # retrieval serving join
}
ZIPF_SET = [
    "ngram_jaccard_pruned_near_dups",
    "ngram_jaccard_prefix_near_dups",
    # round-8 (verdict Next #2a): the cosine family on the corpus shape
    # where df-separation exists — inverse-df weighting + the idf-ordered
    # prefix should separate regimes the way df-prune does for Jaccard;
    # the dispatch decision per scale is logged in tfidf_decisions
    "tfidf_cosine_top1",
    "tfidf_cosine_simhash_top1",
    "tfidf_cosine_routed",
    "tfidf_cosine_tau_routed",
    # round-8b: retrieval on the boilerplate-df corpus — the broadcast
    # probe touches every posting of a query term, so zipf's df = 0.3n
    # head terms are the adversarial case for it; the fit shows whether
    # the serving join stays scan-bound there
    "bm25_search_top10",
]
# the UNPRUNED exact join is the quadratic contrast case on this
# corpus (boilerplate df = 0.3n -> Sum C(df,2) candidate fan-out);
# measured: 7.5 s at zipf0.1, KILLED after 6+ min at zipf0.3 (vs
# 3.5 s pruned) — cap it at the smallest scale and disclose
ZIPF_EXACT_MAX_SF = 0.15

QUERY_SET = [
    # scan/join/window/merge core
    "pricing_summary",
    "revenue_by_nation",
    "topk_lineitems_per_order",
    "merge_upsert_orders",
    "suppliers_kept_waiting",
    # text dedup / quality family
    "near_dup_clusters",
    "ngram_jaccard_prefix_near_dups",
    "minhash_verified_near_dups",
    "remove_repeated_spans",
    "remove_repeated_segments",
    "decontaminate_documents",
    "doc_bigram_perplexity",
    "tfidf_cosine_top1",
    # vector family
    "lsh_multiprobe_ann_top3",
    "embedding_cosine_near_dups",
    "semantic_dedup_cell_blocked",
    # graph
    "copurchase_graph_summary",
    # the whole reference DAG (round-6)
    "reference_pipeline_matches",
    # round-7 additions: the designated dedup DAG and the auto-pruned
    # exact join. similarity_join_salted_top1 is deliberately NOT
    # fitted: its fixture scores EVERY pair of one degenerate block
    # (total work O(n_l * n_r) by design — alpha ~2 is the fixture,
    # not the plan), and its scale dimension is the per-task candidate
    # bound, measured in SKEW.md.
    "minhash_dedup_clusters",
    "ngram_jaccard_pruned_near_dups",
    # round-8: the naive cosine twin (syn-only; zipf would cliff like
    # the exact Jaccard join did), the designated LSH cosine route,
    # and the auto-routed query whose curve should bend at the flip
    "tfidf_cosine_top1_blocked",
    "tfidf_cosine_simhash_top1",
    "tfidf_cosine_routed",
    # round-9: tau-0.7 routing — measured only at real0.1 in the syn
    # loop (the guard below skips syn labels: at tau the uniform
    # corpus is output-bound) and on zipf via ZIPF_SET
    "tfidf_cosine_tau_routed",
    # round-8b: BM25 retrieval — linear inverted-index build + broadcast
    # probe; the fit documents that the serving join scales with the
    # corpus scan, not with candidate fan-out
    "bm25_search_top10",
    # round-8b sketch family (ivf_ann_top3 deliberately NOT fitted at
    # depth: its FIXED 16 cells make candidates ∝ nprobe*n^2/k_cells by
    # construction — the oracle-literal clamp law of SCALING.md
    # round-8b Finding 1; the measured deep-scale ANN route is the
    # occupancy-sized multiprobe LSH)
    "bloom_decontaminate_documents",
    "cms_gram_counts_top50",
    "hll_distinct_tokens_by_source",
    "nb_language_confusion",
]


def _tfidf_decisions() -> dict[str, dict]:
    """Dump the memoized adaptive-dispatch decisions taken during this
    run (verdict Next #2b: the routing story must be ON RECORD, not
    asserted) — one entry per sf_dir the tfidf query planned against."""
    from firmable_aus_etl_spark.datasets import TABLE_STATS

    out = {}
    for (sf_dir, _table, _mtime, stat), (dec, _sec) in TABLE_STATS.items():
        if stat == "tfidf_plan":
            out[sf_dir] = {
                k: dec[k]
                for k in ("plan", "est_naive", "est_prefix", "cand_rows", "pair_rows")
                if k in dec
            }
    return out


def main() -> None:
    runs_n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = None
    scales = None
    for a in sys.argv[2:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        if a.startswith("--scales="):
            # label filter (e.g. --scales=syn0.1,syn1): lets a patch
            # pass re-measure one polluted block without burning the
            # wall-clock of the scales that ran clean
            scales = set(a.split("=", 1)[1].split(","))
    spark = get_session("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(name: str, label: str, sf_dir: str) -> float:
        n = 1 if (name, label) in RUNS_ONCE_AT else runs_n
        best = math.inf
        for _ in range(n):
            t0 = time.time()
            ALL[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    results: dict[str, dict[str, float]] = {}
    for label, sf_dir, _sf in SCALES:
        if scales is not None and label not in scales:
            continue
        if not os.path.isdir(sf_dir):
            print(f"SKIP {label}: {sf_dir} missing", file=sys.stderr)
            continue
        for name in QUERY_SET:
            if label == "syn3" and name not in SYN3_SET:
                continue
            if label == "syn10" and name not in SYN10_SET:
                continue
            if label == "syn30" and name not in SYN30_SET:
                continue
            if name == "tfidf_cosine_top1_blocked" and label not in (
                "syn1", "syn3",
            ):
                continue  # the twin fit only needs the decade endpoints
            if name == "tfidf_cosine_tau_routed" and label != "real0.1":
                # at tau=0.7 the uniform syn corpus is OUTPUT-bound
                # (template docs sit near cosine 0.9 pairwise — r9
                # measured the embedding arm spilling the disk there
                # and the banded arm inherits the same true-pair
                # mass); its scale dimension is zipf (ZIPF_SET)
                continue
            if only is not None and name not in only:
                continue
            best = timed(name, label, sf_dir)
            results.setdefault(name, {})[label] = round(best, 3)
            print(f"  {label:8s} {name:32s} {best:7.3f}s", file=sys.stderr)

    zipf_results: dict[str, dict[str, float]] = {}
    for label, sf_dir, _sf in ZIPF_SCALES:
        if scales is not None and label not in scales:
            continue
        if not os.path.isdir(sf_dir):
            print(f"SKIP {label}: {sf_dir} missing", file=sys.stderr)
            continue
        for name in ZIPF_SET:
            if (
                name == "ngram_jaccard_prefix_near_dups"
                and _sf > ZIPF_EXACT_MAX_SF
            ):
                continue
            if label == "zipf10" and name not in ZIPF10_SET:
                continue
            if label == "zipf30" and name not in ZIPF30_SET:
                continue
            if only is not None and name not in only:
                continue
            best = timed(name, label, sf_dir)
            zipf_results.setdefault(name, {})[label] = round(best, 3)
            print(f"  {label:8s} {name:32s} {best:7.3f}s", file=sys.stderr)

    def fit(scales, prefix, res):
        pts = [(lbl, sf) for lbl, _d, sf in scales if lbl.startswith(prefix)]
        out = {}
        for name, r in res.items():
            xs = [math.log(sf) for lbl, sf in pts if lbl in r]
            ys = [math.log(max(r[lbl], 1e-3)) for lbl, _sf in pts if lbl in r]
            n = len(xs)
            alpha = None
            if n >= 2:
                mx, my = sum(xs) / n, sum(ys) / n
                denom = sum((x - mx) ** 2 for x in xs)
                alpha = round(
                    sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 3
                )
            out[name] = {**r, "alpha": alpha}
        return out

    print(json.dumps({
        "runs": runs_n,
        "runs_once_at": sorted(f"{n}@{lb}" for n, lb in RUNS_ONCE_AT),
        "results": fit(SCALES, "syn", results),
        "zipf": fit(ZIPF_SCALES, "zipf", zipf_results),
        "tfidf_decisions": _tfidf_decisions(),
    }))


if __name__ == "__main__":
    main()
