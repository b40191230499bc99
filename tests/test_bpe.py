"""BPE training/encoding: distributed trainer parity with the
textbook implementation, encode round-trip, compression monotonicity."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from firmable_aus_etl_spark.datasets import load_table
from firmable_aus_etl_spark.operators.bpe import (
    END,
    encode_bpe,
    train_bpe_merges,
    train_bpe_merges_py,
    word_freq_table,
)

SF = "/root/testdata/sf0.001"


def test_split_chars_has_no_empty_symbols(spark):
    df = spark.createDataFrame([("abc def",)], "text string")
    words = word_freq_table(df)
    rows = {r.word: r.freq for r in words.collect()}
    assert rows == {"abc": 1, "def": 1}


def test_distributed_trainer_matches_reference_python(spark):
    docs = load_table(spark, SF, "documents").limit(120)
    got = train_bpe_merges(docs, n_merges=8)
    wf = {r.word: r.freq for r in word_freq_table(docs).collect()}
    want = train_bpe_merges_py(wf, 8)
    assert got == want and len(got) == 8


def test_encode_round_trip_and_compression(spark):
    docs = load_table(spark, SF, "documents").limit(40).select("doc_id", "text")
    merges = train_bpe_merges(docs, n_merges=12)
    enc = encode_bpe(docs, merges)
    base = encode_bpe(docs, [])  # character-level baseline
    e = {r["__id"]: (r["tokens"], r["n_tokens"]) for r in enc.collect()}
    b = {r["__id"]: r["n_tokens"] for r in base.collect()}
    texts = {
        r.doc_id: r.norm
        for r in docs.select(
            "doc_id",
            F.regexp_replace(F.lower(F.trim("text")), " +", " ").alias("norm"),
        ).collect()
    }
    assert set(e) == set(texts)
    for did, (toks, n) in e.items():
        assert n == len(toks)
        # lossless: concatenating tokens and dropping word markers
        # restores the normalized text without spaces
        assert "".join(toks).replace(END, "") == texts[did].replace(" ", "")
        # merges only ever shrink the token stream
        assert n <= b[did]
    # and the corpus-level compression is real
    assert sum(n for _, n in e.values()) < 0.95 * sum(b.values())


def test_encode_runs_outside_the_repo(tmp_path):
    # Python workers start in the caller's working directory with no
    # PYTHONPATH: the encode kernel must not need this package there.
    repo = str(Path(__file__).resolve().parents[1])
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from firmable_aus_etl_spark.queries import PIPELINE_QUERIES\n"
        "from firmable_aus_etl_spark.session import get_session\n"
        "s = get_session('bpe-cwd', master='local[2]', shuffle_partitions=2)\n"
        f"rows = PIPELINE_QUERIES['bpe_token_stats'](s, {SF!r}).collect()\n"
        "print('ROWS', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS " in proc.stdout and "ROWS 0" not in proc.stdout, proc.stdout
