"""Explicit skew handling: hot-key detection and salted two-stage
aggregation / join.

The engine's core paths are already skew-resistant by construction —
the single-pass suite agg is partition-local (no shuffle to skew),
uniqueness/value-counts use two-phase hash aggregation (map-side
partials absorb hot keys; uniqueness drops its partial only for keys
its previous validate saw near-unique), and referential checks
broadcast the dim side. These helpers cover the remaining cases — a
grouped aggregation whose per-key state does NOT reduce
(collect_list-style), or a non-broadcastable join on a skewed key
(the reference has no skew handling at all: its window-based
uniqueness shuffles every row of a hot key to one task, SURVEY.md
§4).

Salting pattern: key -> (key, salt in [0, S)) splits one hot key's
rows across S reducers; stage 2 merges the S partials per key. For
joins the dim side is replicated S times so every (key, salt) pair
finds its match.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_keys(
    df: DataFrame,
    col: str,
    sample_fraction: float = 0.01,
    min_share: float = 0.01,
    seed: int = 42,
) -> List:
    """Keys whose sampled frequency exceeds ``min_share`` of rows —
    one pass over a sample, for deciding when to salt. At 100 TB the
    sample read is pushed to the scan (TABLESAMPLE)."""
    sampled = df.sample(fraction=sample_fraction, seed=seed)
    total = sampled.count()
    if total == 0:
        return []
    rows = (
        sampled.groupBy(col)
        .count()
        .where(F.col("count") >= max(1.0, min_share * total))
        .collect()
    )
    return [r[0] for r in rows]


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Deterministic-per-task uniform salt column in [0, n_salts)."""
    return df.withColumn(
        salt_col, (F.rand(seed=0) * n_salts).cast("int")
    )


def salted_group_agg(
    df: DataFrame,
    keys: List[str],
    partial_aggs: Dict[str, Column],
    merge_aggs: Dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage grouped aggregation for non-reducing agg state:
    stage 1 groups by (keys + salt) so a hot key's state is built on
    n_salts reducers; stage 2 merges the per-salt partials by key.

    partial_aggs: output-name -> agg Column over raw rows
    merge_aggs:   output-name -> agg Column over stage-1 partials
    """
    salted = with_salt(df, n_salts)
    stage1 = salted.groupBy(*keys, "__salt").agg(
        *[e.alias(k) for k, e in partial_aggs.items()]
    )
    return stage1.groupBy(*keys).agg(
        *[e.alias(k) for k, e in merge_aggs.items()]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for a non-broadcastable right side: the
    left (big, skewed) side gets a random salt, the right side is
    replicated once per salt value, and the join key becomes
    (key, salt) — a hot key's rows land on n_salts reducers instead
    of one. Column set of the result matches left.join(right, on, how)
    with duplicate key collapsed.

    Only left-preserving join types are valid: the right side is
    replicated n_salts times, so "right"/"full"/"anti" against the
    right side would emit each unmatched right row once per salt —
    silently wrong results."""
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "right side would duplicate unmatched right rows; use a "
            "plain join (AQE skew handling) for right/full joins"
        )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    right_rep = right.select("*", salts)
    left_salted = with_salt(left, n_salts)
    joined = left_salted.join(
        right_rep,
        [on, "__salt"],
        how,
    )
    return joined.drop("__salt")
