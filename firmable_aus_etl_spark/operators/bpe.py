"""BPE tokenizer training and encoding (Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016) —
the tokenizer-construction stage of an LLM data pipeline, Spark-first.

Scale shape — the key observation is that BPE training's sufficient
statistic is the WORD-FREQUENCY TABLE, not the corpus: one heavy
distributed groupBy reduces 100 TB of text to |vocab| rows
(count-per-distinct-word), and every merge iteration then operates on
that small table — adjacent-pair counts weighted by word frequency,
argmax pair, symbol rewrite. Iterations here stay DataFrame ops
(explode adjacent pairs -> groupBy -> 1-row argmax collect, the same
k-rows-to-driver model-state pattern as k-means centroids), so the
plan is identical whether the word table has 4e4 or 4e7 rows.

Determinism: the argmax pair breaks ties lexicographically, so the
merge sequence is a pure function of the corpus (parity-tested
against a reference pure-Python implementation on the same words).

Encoding applies the learned merge list left-to-right per word — an
inherently sequential per-word loop, so it runs as an Arrow-batched
pandas iterator (mapInPandas; the same sanctioned escape hatch as the
MinHash/plane-dot kernels), never per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker: merges cannot cross word boundaries


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Left-to-right fusion of adjacent (a, b) -> "ab" — the Python
    twin of the column fold in train_bpe_merges (same branch order)."""
    out: list[str] = []
    pend = False
    for s in syms:
        if pend and s == b:
            out.append(a + b)
            pend = False
        elif pend and s == a:
            out.append(a)
            pend = True
        elif pend:
            out.extend([a, s])
            pend = False
        elif s == a:
            pend = True
        else:
            out.append(s)
    if pend:
        out.append(a)
    return out


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus' sufficient statistic for BPE: (word, freq). The one
    pass that touches every byte; everything after runs on its output."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), " +", " ")
    return (
        docs.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _symbolized(words: DataFrame) -> DataFrame:
    """(syms array<string>, freq): each word split to characters with
    the end-of-word marker appended."""
    return words.select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END))
        ).alias("syms"),
        "freq",
    )


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbolized word table."""
    n = F.size("syms")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        sym.select(F.explode(idx).alias("i"), "syms", "freq")
        .select(
            F.element_at("syms", F.col("i")).alias("a"),
            F.element_at("syms", F.col("i") + 1).alias("b"),
            "freq",
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("cnt"))
    )


def train_bpe_merges(
    docs: DataFrame, *, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a document corpus.

    Per iteration: pair-count aggregation over the word table, 1-row
    argmax (cnt desc, then (a, b) lexicographic — the determinism
    pin), then a symbol rewrite that fuses every adjacent (a, b) into
    "ab". Only the winning pair crosses to the driver each round
    (model state); the word table stays distributed, localCheckpoint'ed
    per round so lineage does not stack across iterations.
    """
    sym = _symbolized(word_freq_table(docs, text_col)).localCheckpoint(
        eager=False
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(sym)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        # fuse every adjacent (a, b) occurrence, left to right, as a
        # pure column fold carrying (emitted symbols, pending-'a' flag):
        #   pend & s==b -> emit "ab"          pend cleared
        #   pend & s==a -> emit "a"           pend stays (aa b -> a ab)
        #   pend        -> emit "a", s        pend cleared
        #        s==a   -> emit nothing       pend set
        #   else        -> emit s
        fused = F.aggregate(
            F.col("syms"),
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(False).alias("pend"),
            ),
            lambda acc, s: F.when(
                acc["pend"] & (s == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
                    F.lit(False).alias("pend"),
                ),
            )
            .when(
                acc["pend"] & (s == F.lit(a)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a))).alias("out"),
                    F.lit(True).alias("pend"),
                ),
            )
            .when(
                acc["pend"],
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a), s)).alias("out"),
                    F.lit(False).alias("pend"),
                ),
            )
            .when(
                s == F.lit(a),
                F.struct(acc["out"].alias("out"), F.lit(True).alias("pend")),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(s)).alias("out"),
                    F.lit(False).alias("pend"),
                )
            ),
            lambda acc: F.when(
                acc["pend"], F.concat(acc["out"], F.array(F.lit(a)))
            ).otherwise(acc["out"]),
        )
        sym = sym.select(fused.alias("syms"), "freq").localCheckpoint(
            eager=False
        )
    return merges


def train_bpe_merges_py(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Reference pure-Python BPE trainer (the textbook algorithm) for
    parity testing the distributed path on identical word frequencies."""
    vocab = {tuple(list(w) + [END]): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, f in vocab.items():
            new_vocab[tuple(_apply_merge(list(syms), a, b))] = (
                new_vocab.get(tuple(_apply_merge(list(syms), a, b)), 0) + f
            )
        vocab = new_vocab
    return merges


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode documents with a trained merge list -> (id, tokens
    array<string>, n_tokens). Merges apply per word in training order
    (standard BPE inference) inside an Arrow-batched iterator; the
    merge list rides the closure as model state."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("__id", docs.schema[id_col].dataType, True),
            StructField("tokens", ArrayType(StringType()), True),
            StructField("n_tokens", LongType(), True),
        ]
    )
    src = docs.select(
        F.col(id_col).alias("__id"),
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), " +", " ").alias("__t"),
    )
    rules = list(merges)

    # The kernel references no module-level function: cloudpickle ships
    # those by reference, which would make every Python worker import
    # this package (and fail wherever it is not on the worker's path).
    # So the _apply_merge fusion is restated inline, branch for branch.
    def enc_word(w: str) -> list[str]:
        syms = list(w) + [END]
        for a, b in rules:
            out: list[str] = []
            pend = False
            for s in syms:
                if pend and s == b:
                    out.append(a + b)
                    pend = False
                elif pend and s == a:
                    out.append(a)
                elif pend:
                    out.extend([a, s])
                    pend = False
                elif s == a:
                    pend = True
                else:
                    out.append(s)
            if pend:
                out.append(a)
            syms = out
        return syms

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            toks = [
                [t for w in txt.split(" ") if w for t in enc_word(w)]
                if txt
                else []
                for txt in pdf["__t"]
            ]
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    from firmable_aus_etl_spark.operators.partitioning import ensure_parallelism

    return ensure_parallelism(src, "__id").mapInPandas(fn, out_schema)
