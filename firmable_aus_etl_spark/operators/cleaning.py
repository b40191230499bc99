"""Cleaning / projection operators (SURVEY.md §2.2: op6-op15).

All pure column expressions — no UDFs — so every one of these stays
inside whole-stage codegen and is pushdown/prune-transparent to
Catalyst. At 100 TB this family runs inside the scan stage at zero
extra shuffle cost.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def normalize_column_names(df: DataFrame) -> DataFrame:
    """op6 — lowercase, strip, spaces->underscores on all column names.

    reference: scripts/cleaning/clean_abr.py:20, clean_common_crawl.py:25
    """
    return df.toDF(*[c.strip().lower().replace(" ", "_") for c in df.columns])


def trim_all_strings(df: DataFrame) -> DataFrame:
    """op7 — trim every string column (reference: clean_abr.py:23)."""
    return df.select(
        *[
            F.trim(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, StringType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def regex_filter(df: DataFrame, column: str, pattern: str) -> DataFrame:
    """op8 — keep rows where column fully matches pattern.

    reference: clean_abr.py:26-31 (abn ~ ^\\d{11}$, postcode ~ ^\\d{4}$).
    rlike pushes into the scan stage; no shuffle.
    """
    return df.filter(F.col(column).rlike(pattern))


def eq_filter_ci(df: DataFrame, column: str, value: str) -> DataFrame:
    """op9 — case-insensitive equality filter.

    reference: clean_abr.py:38-39 (lower(status) == 'active').
    """
    return df.filter(F.lower(F.col(column)) == F.lit(value.lower()))


def drop_null_required(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """op10 — drop rows null in required columns.

    reference: clean_common_crawl.py:28 (website_url, company_name).
    """
    return df.na.drop(subset=list(columns))


def conform_schema(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """op11 — coerce onto a canonical column list: add missing as '',
    drop extras, reorder.

    reference: clean_abr.py:42-51.
    """
    out = df
    for c in columns:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(""))
    return out.select(*columns)


def truncate_strings(df: DataFrame, limits: dict[str, int]) -> DataFrame:
    """op12 — cap string columns at n chars.

    reference: clean_common_crawl.py:5-8 (url->500),
    loadcsv_topostgres.py:29-31 (all text -> 10000).
    """
    return df.select(
        *[
            F.substring(F.col(c), 1, limits[c]).alias(c) if c in limits else F.col(c)
            for c in df.columns
        ]
    )


def normalized_name_col(col: Column | str, *, upper: bool = False) -> Column:
    """op13 — derived normalized-name column used as join-key material.

    reference: entity_matching.py:19-25 (lower+strip);
    entity_matching_spark.py:24-25 (upper+trim).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(F.trim(c), " +", " ")
    return F.upper(c) if upper else F.lower(c)


def with_blocking_key(
    df: DataFrame,
    source_col: str,
    *,
    block_col: str = "block",
    block_size: int = 2,
    from_end: bool = False,
) -> DataFrame:
    """op14 — prefix (or suffix) blocking key for similarity joins.

    reference: entity_matching_tfidf.py:159-160 (norm[:2]),
    entity_matching_optimized.py:43-64.

    ``from_end=True`` takes the LAST ``block_size`` chars — used when the
    key population shares a long common prefix (e.g. 'Customer#0000...'),
    where prefix blocking would put every row in one block. This is the
    skew-avoidance knob: blocking IS a hash-partitioning scheme, and a
    degenerate block is a straggler partition at scale.
    """
    norm = normalized_name_col(source_col)
    key = (
        F.substring(norm, -block_size, block_size)
        if from_end
        else F.substring(norm, 1, block_size)
    )
    return df.withColumn(block_col, key)


def titlecase_clean(col: Column | str) -> Column:
    """op15 — collapse multiple spaces + Title Case.

    reference: clean_common_crawl.py:10-13.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.initcap(F.regexp_replace(F.trim(c), " +", " "))


def clean_url(col: Column | str, max_len: int = 500) -> Column:
    """u3 — strip + truncate (reference: clean_common_crawl.py:5-8)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.trim(c), 1, max_len)


def abn_checksum_valid(col: Column | str) -> Column:
    """Full ABN validation (engine widening of op8's shape check): the
    public ATO checksum — subtract 1 from the leading digit, weight the
    11 digits by [10,1,3,5,7,9,11,13,15,17,19], valid iff the sum is
    divisible by 89. Catches transposed/mistyped ABNs that pass the
    reference's ``^\\d{11}$`` regex (clean_abr.py:26-31). Pure column
    expression — codegen'd, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    weights = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]

    def digit(i: int) -> Column:
        return F.substring(c, i + 1, 1).cast("int")

    total: Column = (digit(0) - 1) * weights[0]
    for i in range(1, 11):
        total = total + digit(i) * weights[i]
    return c.rlike("^[0-9]{11}$") & (F.pmod(total, F.lit(89)) == 0)


def normalize_phone_au(col: Column | str) -> Column:
    """Canonical AU phone form: strip every non-digit, rewrite a
    leading trunk '0' to country code '61', pass through numbers
    already carrying 61. Non-phone-shaped leftovers return NULL rather
    than a mangled value. Pure expressions (engine widening: the
    reference normalizes names/urls but loads phones raw)."""
    c = F.col(col) if isinstance(col, str) else col
    digits = F.regexp_replace(c, "[^0-9]", "")
    return (
        F.when(digits.rlike("^0[0-9]{9}$"), F.concat(F.lit("61"), F.substring(digits, 2, 9)))
        .when(digits.rlike("^61[0-9]{9}$"), digits)
        .otherwise(F.lit(None).cast("string"))
    )


# Accented Latin forms and their ASCII folds, generated at import time
# from Unicode NFD decomposition (strip combining marks) over the
# Latin-1 Supplement + Latin Extended-A ranges — a static literal
# pair, so the fold is a single codegen'd translate() (no per-row
# Python, no ICU dependency).
def _accent_map() -> tuple[str, str]:
    import unicodedata

    src, dst = [], []
    for cp in range(0xC0, 0x180):
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        base = "".join(c for c in d if not unicodedata.combining(c))
        if base != ch and len(base) == 1 and base.isascii() and base.isalpha():
            src.append(ch)
            dst.append(base)
    return "".join(src), "".join(dst)


_ACCENTED, _FOLDED = _accent_map()


def fold_accents(col: Column | str) -> Column:
    """Accent folding for name matching (engine widening of op13's
    normalization): é->e, ü->u, ñ->n ... as a single translate() over a
    literal character map built from Unicode NFD decomposition — the
    blocking-key hygiene step that stops 'Café Pty Ltd' and
    'Cafe Pty Ltd' landing in different blocks. Characters that do not
    decompose to one ASCII letter (ø, æ, ß) pass through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ACCENTED, _FOLDED)
