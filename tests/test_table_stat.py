"""Planner-statistics memo (datasets.table_stat): hit, invalidation,
per-miss timing, and one shared documents row count across queries."""

from __future__ import annotations

import os

import pytest


def _write_docs(dirpath, n):
    """documents.parquet with the testdata schema and n rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirpath.mkdir(exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([f"doc {i}" for i in range(n)], pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["web"] * n, pa.string()),
            "n_chars": pa.array([5] * n, pa.int64()),
        }
    )
    path = dirpath / "documents.parquet"
    pq.write_table(tbl, str(path))
    return str(dirpath), path


@pytest.fixture
def stats(monkeypatch):
    """A fresh, empty memo for the test (the module dict is process-wide)."""
    from firmable_aus_etl_spark import datasets

    monkeypatch.setattr(datasets, "TABLE_STATS", {})
    return datasets


def _counting(value):
    calls = []

    def compute():
        calls.append(1)
        return value

    return compute, calls


def test_hit_does_not_recompute_or_retime(stats, tmp_path):
    sf_dir, _ = _write_docs(tmp_path / "a", 3)
    compute, calls = _counting(3)

    assert stats.table_stat(sf_dir, "documents", "rows", compute) == 3
    assert stats.table_stat(sf_dir, "documents", "rows", compute) == 3
    assert len(calls) == 1
    # one entry, timed once: the hit neither adds an entry nor seconds
    [(key, (value, seconds))] = stats.TABLE_STATS.items()
    assert key[:2] == (sf_dir, "documents") and key[3] == "rows"
    assert value == 3 and seconds >= 0.0


def test_rewritten_table_invalidates(stats, tmp_path):
    sf_dir, path = _write_docs(tmp_path / "a", 3)
    compute, calls = _counting(3)
    stats.table_stat(sf_dir, "documents", "rows", compute)

    _write_docs(tmp_path / "a", 5)
    later = os.path.getmtime(path) + 10
    os.utime(path, (later, later))
    compute5, calls5 = _counting(5)
    assert stats.table_stat(sf_dir, "documents", "rows", compute5) == 5
    assert (len(calls), len(calls5)) == (1, 1)
    # seconds recorded once per miss: one entry per (mtime) generation
    assert len(stats.TABLE_STATS) == 2


def test_seconds_recorded_per_miss_only(stats, tmp_path):
    import time

    sf_dir, _ = _write_docs(tmp_path / "a", 3)

    def slow():
        time.sleep(0.05)
        return 3

    def total():
        return sum(sec for _, sec in stats.TABLE_STATS.values())

    stats.table_stat(sf_dir, "documents", "rows", slow)
    after_miss = total()
    assert after_miss >= 0.05
    stats.table_stat(sf_dir, "documents", "rows", slow)
    assert total() == after_miss
    stats.table_stat(sf_dir, "documents", "other", slow)
    assert total() >= after_miss + 0.05


def test_sf_dirs_do_not_share_entries(stats, tmp_path):
    a, _ = _write_docs(tmp_path / "a", 3)
    b, _ = _write_docs(tmp_path / "b", 4)
    assert stats.table_stat(a, "documents", "rows", lambda: 3) == 3
    assert stats.table_stat(b, "documents", "rows", lambda: 4) == 4
    assert {k[0] for k in stats.TABLE_STATS} == {a, b}


def test_one_documents_count_serves_every_sizing_query(spark, stats, tmp_path):
    """The simhash, routed-cosine and both MinHash queries all size from
    the same memoized documents row count: building them records one
    `rows` entry, not one per query."""
    from firmable_aus_etl_spark import queries as Q

    sf_dir, _ = _write_docs(tmp_path / "a", 40)
    for name in (
        "tfidf_cosine_simhash_top1",
        "tfidf_cosine_routed",
        "minhash_verified_portable",
    ):
        Q.QUERIES[name](spark, sf_dir)
    Q.PIPELINE_QUERIES["minhash_verified_near_dups"](spark, sf_dir)

    names = sorted(k[3] for k in stats.TABLE_STATS if k[:2] == (sf_dir, "documents"))
    assert names == ["rows", "tfidf_cand_mass", "tfidf_plan"]
    rows = [v for k, (v, _) in stats.TABLE_STATS.items() if k[3] == "rows"]
    assert rows == [40]
