"""Property-based tests (hypothesis) for the merge/dedup/similarity
invariants — the class of tests SURVEY §5 notes the reference lacks.

Strategy sizes are small (Spark job per example is expensive); the
properties, not the volume, carry the value:
- merge idempotence: applying the same update batch twice == once
- merge key conservation: output keys == existing ∪ update keys
- keyed dedup: exactly one survivor per key, and it's the tiebreak min
- token_sort_ratio symmetry + identity + bounds
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from firmable_aus_etl_spark.functions.similarity import _py_indel_ratio, _token_sort_py
from firmable_aus_etl_spark.operators import dedup, joins

KEYS = st.integers(min_value=0, max_value=6)
VALS = st.text(alphabet="abcxyz ", min_size=0, max_size=8)

ROWS = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=12)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string") if rows else (
        spark.createDataFrame([], "k long, v string")
    )


@given(existing=ROWS, updates=ROWS)
@_SETTINGS
def test_merge_upsert_idempotent_and_key_conserving(spark, existing, updates):
    # merge needs unique keys per side (table semantics)
    e = {k: v for k, v in existing}
    u = {k: v for k, v in updates}
    edf = _df(spark, list(e.items()))
    udf = _df(spark, list(u.items()))

    once = joins.merge_upsert(edf, udf, ["k"])
    twice = joins.merge_upsert(once, udf, ["k"])
    got_once = {(r.k, r.v) for r in once.collect()}
    got_twice = {(r.k, r.v) for r in twice.collect()}
    assert got_once == got_twice, "merge must be idempotent"
    assert {k for k, _ in got_once} == set(e) | set(u), "keys conserved"
    # update wins wherever present
    for k, v in u.items():
        assert (k, v) in got_once


@given(rows=ROWS)
@_SETTINGS
def test_dedup_keyed_one_min_survivor_per_key(spark, rows):
    df = _df(spark, rows)
    out = dedup.dedup_keyed(df, ["k"], [F.col("v").asc_nulls_first()])
    got = {r.k: r.v for r in out.collect()}
    expect = {}
    for k, v in rows:
        if k not in expect or v < expect[k]:
            expect[k] = v
    assert got == expect


@given(a=st.text(max_size=12), b=st.text(max_size=12))
@_SETTINGS
def test_indel_ratio_properties(a, b):
    ra = _py_indel_ratio(_token_sort_py(a), _token_sort_py(b))
    rb = _py_indel_ratio(_token_sort_py(b), _token_sort_py(a))
    assert ra == pytest.approx(rb), "symmetry"
    assert 0.0 <= ra <= 100.0, "bounds"
    assert _py_indel_ratio(_token_sort_py(a), _token_sort_py(a)) == 100.0, "identity"


WORDS = st.sampled_from(["spark", "table", "row", "key", "scan", "fast", "the"])
DOCS = st.lists(
    st.lists(WORDS, min_size=0, max_size=10).map(" ".join),
    min_size=0,
    max_size=10,
)


@given(texts=DOCS, t=st.sampled_from([0.3, 0.5, 0.8]))
@_SETTINGS
def test_prefix_jaccard_exact_property(spark, texts, t):
    """Prefix filtering (both global orders) must reproduce the naive
    exact Jaccard join on arbitrary small corpora — including empty
    texts, whole-corpus duplicates, and sub-n-gram-length docs."""
    rows = [(i, s) for i, s in enumerate(texts)]
    docs = (
        spark.createDataFrame(rows, "doc_id long, text string")
        if rows
        else spark.createDataFrame([], "doc_id long, text string")
    )
    naive = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=t
        ).collect()
    }
    pref = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in dedup.ngram_jaccard_pairs_prefix(
            docs, "doc_id", "text", shingle_n=2, threshold=t
        ).collect()
    }
    assert pref == naive, t


# --- asof_join / point_in_interval_join vs brute force --------------------

_TS = st.integers(min_value=0, max_value=50)
_GRP = st.integers(min_value=0, max_value=2)
_LEFT = st.lists(st.tuples(_GRP, _TS), min_size=0, max_size=8)
_RIGHT = st.lists(st.tuples(_GRP, _TS), min_size=0, max_size=8)


@given(left=_LEFT, right=_RIGHT, direction=st.sampled_from(["backward", "forward"]))
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right, direction):
    """The union+window merge must agree with the obvious per-row scan:
    nearest right timestamp (<= / >=) per group, greatest rid on ties."""
    lrows = [(i, g, t) for i, (g, t) in enumerate(left)]
    rrows = [(100 + i, g, t) for i, (g, t) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, g long, t long") if lrows else (
        spark.createDataFrame([], "lid long, g long, t long"))
    rdf = spark.createDataFrame(rrows, "rid long, g long, t long") if rrows else (
        spark.createDataFrame([], "rid long, g long, t long"))

    got = {
        r.lid: r.rid
        for r in joins.asof_join(
            ldf, rdf, on="t", by=["g"], value_cols=["rid"],
            tiebreak="rid", direction=direction,
        ).collect()
    }

    def brute(g, t):
        if direction == "backward":
            cands = [(rt, rid) for rid, rg, rt in rrows if rg == g and rt <= t]
            return max(cands, key=lambda x: (x[0], x[1]))[1] if cands else None
        cands = [(rt, rid) for rid, rg, rt in rrows if rg == g and rt >= t]
        return min(cands, key=lambda x: (x[0], -x[1]))[1] if cands else None

    expected = {lid: brute(g, t) for lid, g, t in lrows}
    assert got == expected


@given(points=_LEFT, intervals=_RIGHT, length=st.integers(min_value=0, max_value=9),
       bucket=st.sampled_from([1, 3, 7]))
@_SETTINGS
def test_range_join_matches_bruteforce(spark, points, intervals, length, bucket):
    """Binned range join == brute-force containment scan for arbitrary
    bucket widths (including buckets smaller and larger than spans)."""
    prows = [(i, g, t) for i, (g, t) in enumerate(points)]
    irows = [(100 + i, g, t, t + length) for i, (g, t) in enumerate(intervals)]
    pdf = spark.createDataFrame(prows, "pid long, g long, t long") if prows else (
        spark.createDataFrame([], "pid long, g long, t long"))
    idf = spark.createDataFrame(irows, "iid long, g long, s long, e long") if irows else (
        spark.createDataFrame([], "iid long, g long, s long, e long"))

    # integer epochs stand in for timestamps: cast to timestamp seconds
    pdf = pdf.withColumn("ts", F.timestamp_seconds("t"))
    idf = idf.withColumn("ss", F.timestamp_seconds("s")).withColumn(
        "ee", F.timestamp_seconds("e"))
    got = {
        (r.pid, r.iid)
        for r in joins.point_in_interval_join(
            pdf, idf, point_ts="ts", start_ts="ss", end_ts="ee",
            by=["g"], bucket_seconds=bucket,
        ).collect()
    }
    expected = {
        (pid, iid)
        for pid, pg, pt in prows
        for iid, ig, s, e in irows
        if pg == ig and s <= pt <= e
    }
    assert got == expected


EDGE_PAIRS = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=30
)


@given(pairs=EDGE_PAIRS)
@_SETTINGS
def test_triangle_orientations_agree_property(spark, pairs):
    from firmable_aus_etl_spark.operators.graph import (
        triangle_count,
        undirected_simple_edges,
    )

    raw = (
        spark.createDataFrame(pairs, "a long, b long")
        if pairs
        else spark.createDataFrame([], "a long, b long")
    )
    e = undirected_simple_edges(raw)
    t_deg = triangle_count(e).collect()[0].n_triangles
    # brute-force truth on the canonical edge set
    es = {(r.a, r.b) for r in e.collect()}
    nodes = sorted({n for p in es for n in p})
    truth = sum(
        1
        for i, x in enumerate(nodes)
        for y in nodes[i + 1:]
        for z in nodes
        if z > y
        and (x, y) in es and (y, z) in es and (x, z) in es
    )
    assert t_deg == truth


@given(rows=st.lists(st.tuples(st.integers(0, 50), st.integers(1, 9)),
                     min_size=1, max_size=25), k=st.integers(1, 8))
@_SETTINGS
def test_weighted_sample_is_topk_of_priorities(spark, rows, k):
    # A-Res output == the k largest ln(u)/w priorities computed
    # independently — the selection is a pure function of the data
    from firmable_aus_etl_spark.operators.sampling import (
        _uniform_from_key,
        weighted_sample_ares,
    )

    uniq = {kk: w for kk, w in rows}
    df = spark.createDataFrame(list(uniq.items()), "k long, w long")
    got = {r.k for r in weighted_sample_ares(df, "k", "w", k=k).collect()}
    pri = {
        r.k: r.p
        for r in df.select(
            "k", (F.log(_uniform_from_key(F.col("k"))) / F.col("w")).alias("p")
        ).collect()
    }
    want = set(sorted(pri, key=lambda x: (-pri[x], x))[:k])
    assert got == want


# ---- round-5 codec properties (no Spark fixture needed) ----------------

_PIXELS = st.integers(min_value=0, max_value=255)


@given(
    dims=st.tuples(
        st.integers(min_value=4, max_value=24),
        st.integers(min_value=4, max_value=20),
    ),
    ch=st.sampled_from([1, 3]),
    q=st.sampled_from([25, 60, 90]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@_SETTINGS
def test_progressive_decode_always_equals_baseline(dims, ch, q, seed):
    """Property: for ANY image, decoding the progressive encode is
    pixel-identical to decoding the baseline encode (same quantized
    coefficients through two entropy codings)."""
    import random

    from firmable_aus_etl_spark.multimodal import jpeg as J

    w, h = dims
    rng = random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * ch))
    base = J.decode_jpeg(J.encode_jpeg(px, w, h, channels=ch, quality=q))
    prog = J.decode_jpeg(
        J.encode_jpeg_progressive(px, w, h, channels=ch, quality=q)
    )
    assert base == prog


@given(
    n_frames=st.integers(min_value=1, max_value=5),
    fps=st.sampled_from([1, 10, 25, 30]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@_SETTINGS
def test_avi_container_roundtrip_property(n_frames, fps, seed):
    """Property: the MJPEG-AVI container returns every frame blob
    byte-exact in order, with the header geometry and fps intact."""
    import random

    from firmable_aus_etl_spark.multimodal import avi as A
    from firmable_aus_etl_spark.multimodal import jpeg as J

    rng = random.Random(seed)
    frames = [
        J.encode_jpeg(
            bytes(rng.randrange(256) for _ in range(8 * 8 * 3)), 8, 8, channels=3
        )
        for _ in range(n_frames)
    ]
    data = A.encode_mjpeg_avi(frames, 8, 8, fps=fps)
    w, h, got_fps, got = A.decode_mjpeg_avi(data)
    assert (w, h) == (8, 8)
    assert got == frames
    assert abs(got_fps - fps) < 1e-9
