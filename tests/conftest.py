from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from firmable_aus_etl_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def distributed_graph_route(monkeypatch):
    """Force connected_components and graph_summary onto their
    distributed route (the label/star loops, triangle_count): with the
    driver ceiling at -1 no edge set fits, not even an empty one. The
    same ceiling sends dedup.df_pruned_shingles to its anti-join
    fallback."""
    from firmable_aus_etl_spark.operators import partitioning

    monkeypatch.setattr(partitioning, "_MAX_DRIVER_ROWS", -1)
