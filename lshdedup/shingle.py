"""Shingling operators — native-expression and long-format variants.

Re-expresses split_k_shingling_fast (k_shingles.h:67-85): sliding k-gram
over a string → weighted set (distinct shingle + occurrence count), whole
string if len < k.  Two Spark forms:

  1. Native column expressions (this module) — the shingle set as an
     array/long-format DataFrame, used by the doc queries' exact Jaccard,
     the brute-force oracle and tests.  (Pair verification hashes the same
     code-point grams in its Arrow kernel, hashing.char_gram_hashes.)
  2. A fused shingle→hash→signature pandas UDF (minhash.py) — the hot path,
     which never materializes shingle strings at all.

The weighted variant (weight = duplicate count, k_shingles.h:82 _weight++)
is the groupBy().count() of the exploded form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_shingles_expr(text: Column | str, k: int) -> Column:
    """array<string> of ALL sliding k-grams (with duplicates, in order).

    len(text) < k → single whole-string element (k_shingles.h:74-77);
    empty string → one empty-string shingle (degenerate but total).
    """
    text = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))),
        lambda i: F.substring(text, i, k),
    )


def distinct_char_shingles_expr(text: Column | str, k: int) -> Column:
    """array<string> of DISTINCT k-grams — the shingle *set*."""
    return F.array_distinct(char_shingles_expr(text, k))


def word_shingles_expr(text: Column | str, sep: str = " ") -> Column:
    """Distinct word tokens (the reference's unit-test fixtures are word
    sets, test.h:86-92)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(F.split(text, sep))


def explode_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    mode: str = "char",
) -> DataFrame:
    """Long-format weighted shingle table: (id, shingle, weight).

    weight = occurrence count, mirroring the mutable _weight counter of
    K_shingling (k_shingles.h:28-42).
    """
    if mode == "char":
        arr = char_shingles_expr(text_col, k)
    elif mode == "word":
        arr = F.split(F.col(text_col), " ")
    else:
        raise ValueError(f"unknown shingle mode {mode!r}")
    return (
        df.select(F.col(id_col), F.explode(arr).alias("shingle"))
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def exact_jaccard_expr(set_a: Column, set_b: Column) -> Column:
    """|A∩B| / |A∪B| on two array columns (minhash.h:210-215) — native,
    no UDF.  Both-empty → 1.0 (matches jaccard convention for empty sets)."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)
