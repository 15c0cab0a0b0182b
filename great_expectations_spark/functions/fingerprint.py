"""Winnowing document fingerprints as pure Spark expressions.

Implements the winnowing scheme of Schleimer/Wilkerson/Aiken (SIGMOD
2002, "Winnowing: Local Algorithms for Document Fingerprinting"):
hash every character k-gram, then slide a window of w consecutive
hashes and keep each window's minimum. The guarantee: any shared
substring of length >= k + w - 1 between two documents contributes at
least one common fingerprint, while only ~2/(w+1) of all k-gram
hashes are kept.

Everything is array expressions (transform / sequence / slice /
array_min) — no explode, no UDF, no shuffle: two projections per
document (k-gram hashes, then window minima), so fingerprinting a
10^12-doc corpus is a single scan whose
output (array<bigint> per doc) feeds the same bucket-join dedup
machinery as the MinHash path (suite_queries.dedup_minhash_pairs).

The k-gram hash is the first 4 hex chars of md5 (16-bit) — small on
purpose: it is reproducible in ANSI SQL for the DuckDB oracle
(suite_queries.doc_winnow_fingerprints) and collision behaviour only
affects fingerprint density, not correctness of the containment
guarantee.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def kgram_hashes(text: Column, k: int = 7) -> Column:
    """array<bigint> of 16-bit hashes of every character k-gram of
    lower(text). Documents shorter than k yield an empty array."""
    t = F.lower(text)
    n = F.length(t)
    return F.when(
        n < k, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.substr(t, i, F.lit(k))), 1, 4),
                16,
                10,
            ).cast("long"),
        )
    )


def winnow(hashes: Column, w: int = 5) -> Column:
    """Winnowed selection: min of every window of w consecutive
    hashes, deduplicated and sorted. Arrays shorter than w keep their
    global min (the paper's boundary rule: every document with at
    least one k-gram gets at least one fingerprint)."""
    n = F.size(hashes)
    windowed = F.transform(
        F.sequence(F.lit(1), n - F.lit(w - 1)),
        lambda j: F.array_min(F.slice(hashes, j, w)),
    )
    short = F.when(
        n > 0, F.array(F.array_min(hashes))
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_sort(
        F.array_distinct(F.when(n >= w, windowed).otherwise(short))
    )


def winnow_fingerprints(
    df: DataFrame, text: str, keep: Sequence[str] = (),
    k: int = 7, w: int = 5,
) -> DataFrame:
    """`keep` columns of `df` plus `fps`, the winnowing fingerprints
    of column `text`: array<bigint>, sorted distinct window-minima of
    16-bit k-gram hashes.

    Two projections: the k-gram hashes become a column before winnow()
    reads them. winnow() reads its argument inside the window lambda,
    where Spark shares no subexpressions, so an inline kgram_hashes
    would recompute every k-gram md5 for every window."""
    return df.select(
        *keep, kgram_hashes(F.col(text), k).alias("__kgram_h")
    ).select(*keep, winnow(F.col("__kgram_h"), w).alias("fps"))
