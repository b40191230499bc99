"""The driver route of connected_components and graph_summary: small
edge sets finish in one collect, return what the distributed route
returns, leave no persisted state behind, and keep their queries'
job counts down."""

from __future__ import annotations

import random

import pytest

from firmable_aus_etl_spark.operators import dedup, graph, partitioning
from firmable_aus_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

_rng = random.Random(11)
# one graph of disjoint parts, so each route runs once per algorithm:
# chains 1-2-3-4 and 10-11-12; self-loops, duplicate and reversed edges
# on the triangle 20-21-22 (plus the isolated loop 27); 100 is outside
# the node universe and must neither bridge 30-31 with 35-36 nor appear;
# 29 is a singleton; a seeded random clump on 40..47
EDGES = (
    [(1, 2), (2, 3), (4, 3), (10, 11), (12, 11)]
    + [(20, 21), (21, 20), (20, 21), (22, 22), (21, 22), (22, 20), (27, 27)]
    + [(30, 31), (31, 100), (100, 35), (35, 36)]
    + [(40 + _rng.randrange(8), 40 + _rng.randrange(8)) for _ in range(20)]
)
NODES = [1, 2, 3, 4, 10, 11, 12, 20, 21, 22, 27, 29, 30, 31, 35, 36] + list(range(40, 48))


def _components(spark, edge_rows, node_rows, algorithm, stats=None):
    edges = spark.createDataFrame(edge_rows, "a_id long, b_id long")
    nodes = (
        None if node_rows is None
        else spark.createDataFrame([(i,) for i in node_rows], "nid long")
    )
    out = dedup.connected_components(
        edges, nodes=nodes, node_id="nid", algorithm=algorithm, stats=stats
    )
    return sorted(tuple(r) for r in out.collect())


def _summary(spark, edge_rows):
    edges = spark.createDataFrame(edge_rows, "a long, b long")
    return [tuple(r) for r in graph.graph_summary(edges).collect()]


def _all_results(spark, route):
    out = {}
    for name, edge_rows, node_rows in (("graph", EDGES, NODES), ("empty", [], [3, 4])):
        for algo in ("label", "star"):
            stats: dict = {}
            out[name, algo] = _components(spark, edge_rows, node_rows, algo, stats)
            assert stats["route"] == route, (name, algo, stats)
        out[name, "summary"] = _summary(spark, edge_rows)
    return out


def test_driver_and_distributed_routes_agree(spark, monkeypatch):
    driver = _all_results(spark, "driver")
    monkeypatch.setattr(partitioning, "_MAX_DRIVER_ROWS", -1)
    distributed = _all_results(spark, "distributed")
    assert driver == distributed
    labels = dict(driver["graph", "label"])
    assert 100 not in labels
    assert (labels[4], labels[12], labels[22], labels[27], labels[29]) == (1, 10, 20, 27, 29)
    assert (labels[31], labels[35], labels[36]) == (30, 35, 35)
    assert driver["empty", "label"] == [(3, 3), (4, 4)]
    assert driver["empty", "summary"] == [(0, 0, 0, 0, 0.0)]


def test_driver_route_ceiling_is_inclusive(spark, monkeypatch):
    """Exactly N edges finish on the driver, N + 1 take the loops, and
    both give the labeling and summary of the other route."""
    n = 6
    monkeypatch.setattr(partitioning, "_MAX_DRIVER_ROWS", n)
    # simple edges (a < b, distinct), so graph_summary sees the same
    # count; a hub keeps the label loop to one turn
    fits = [(0, i) for i in range(1, n)] + [(1, 2)]
    over = fits + [(20, 21)]
    got = {}
    for rows, route in ((fits, "driver"), (over, "distributed")):
        stats: dict = {}
        got[len(rows)] = (_components(spark, rows, None, "label", stats),
                          _summary(spark, rows))
        assert stats["route"] == route
        assert stats["edges"] == (n if route == "driver" else None)
        assert stats["rounds"] == 0 if route == "driver" else stats["rounds"] > 0
    monkeypatch.setattr(partitioning, "_MAX_DRIVER_ROWS", n - 1)  # fits -> loops
    assert (_components(spark, fits, None, "label"), _summary(spark, fits)) == got[n]
    monkeypatch.setattr(partitioning, "_MAX_DRIVER_ROWS", n + 1)  # over -> driver
    assert (_components(spark, over, None, "label"), _summary(spark, over)) == got[n + 1]
    assert got[n][1] == [(6, 6, 12, 1, 0.25)]


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_job_is_named_and_description_restored(spark):
    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    _jobs_in(
        spark, "probe-named",
        lambda: dedup.connected_components(edges, node_id="nid").collect(),
    )
    store = sc._jsc.sc().statusStore()
    descriptions = {
        store.job(j).description().getOrElse(None)
        for j in sc.statusTracker().getJobIdsForGroup("probe-named")
    }
    assert "connected_components: edge probe" in descriptions, descriptions
    sc.setJobDescription("caller's job")
    try:
        dedup.connected_components(edges, node_id="nid").collect()
        assert sc.getLocalProperty("spark.job.description") == "caller's job"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    with pytest.raises(ValueError, match="unknown algorithm"):
        dedup.connected_components(edges, algorithm="bfs")


# the six registry queries whose graph reaches the driver route
GRAPH_QUERIES = [
    "near_dup_clusters",
    "near_dup_clusters_star",
    "golden_records_documents",
    "cluster_aware_split",
    "minhash_dedup_clusters",
    "copurchase_graph_summary",
]


def _persistent_ids(spark) -> set:
    # ids, not the count: the ContextCleaner may release other tests'
    # blocks meanwhile (see test_reliable_checkpoint_cache_stays_bounded)
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# (build jobs, sink jobs) of a warm build + noop sink at sf0.001 on the
# test session (local[4], 4 shuffle partitions). Lower a pin when a
# change cuts jobs; a rise is a regression.
JOB_PINS = {
    "near_dup_clusters": (6, 3),
    "near_dup_clusters_star": (6, 3),
    "copurchase_graph_summary": (4, 1),
}


def test_graph_queries_release_state_and_keep_job_counts(spark):
    """The six queries leave no persisted RDD behind, and the pinned
    ones' warm build and sink job counts do not rise."""
    before = _persistent_ids(spark)
    got = {}
    for name in GRAPH_QUERIES:
        _noop(QUERIES[name](spark, SF))  # also warms the planner statistics
        if name in JOB_PINS:
            df, build = _jobs_in(spark, f"{name}:build", lambda: QUERIES[name](spark, SF))
            _, sink = _jobs_in(spark, f"{name}:sink", lambda: _noop(df))
            got[name] = (build, sink)
        left = _persistent_ids(spark) - before
        assert not left, f"{name} left {len(left)} persisted RDDs"
    risen = {
        n: (got[n], pin) for n, pin in JOB_PINS.items()
        if got[n][0] > pin[0] or got[n][1] > pin[1]
    }
    assert not risen, f"job counts rose (got, pin): {risen}"
