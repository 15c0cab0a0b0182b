"""Uniqueness checks as one key count.

The reference marks duplicates with a window count over
``Window.partitionBy(col)`` (column_values_unique.py:79-84,
compound_columns_unique.py:149-155), which sorts every row of each
key and skews on hot keys. We count the column-pruned keys, keep the
groups with count > 1, and rebuild the violation values driver-side
from the (value, count) pairs of the smallest duplicated keys — no
join-back scan is needed for value lists.

The count runs as one of two plans, chosen per check from what its
previous validate observed and recorded in result.meta["decisions"]
(see _dup_groups): Spark's groupBy, whose map-side partial count
absorbs hot keys, at the session's shuffle width; or, for keys seen
to be near-unique, one exchange sized to the input and a count after
it.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from pyspark.sql import functions as F

from ..core.config import parse_result_format, result_format_at_least
from ..core.result import format_map_output, mostly_success
from .checks import JobCheck, MetricCache
from .common import between_kwargs, get_mostly, multi_consider, shuffle_width

# a check whose previous validate found at most this share of its
# considered rows duplicated drops the map-side partial count, which
# could then remove at most that share of the shuffled rows
NEAR_UNIQUE_DUP_SHARE = 0.1


def dup_groups_frame(
    base, key_cols: List[str], cap: int, width: Optional[int] = None
):
    """One row (__total, __sample) over the considered rows `base`:
    the duplicated-row count, and the `cap` smallest duplicated keys
    as struct(keys..., __cnt) in key order.

    With no `width`, groupBy(keys) counts: a map-side partial count,
    then Spark's exchange at spark.sql.shuffle.partitions, which
    adaptive execution coalesces. With a `width`, the column-pruned
    keys cross repartition(width, *keys) and are counted after it;
    Spark then places the whole count after the exchange, so there
    is no map-side partial.

    Each reduce partition sorts its duplicated groups and offers its
    first `cap` (row position after sortWithinPartitions) to the
    final collect_list, so the aggregation buffer holds at most `cap`
    structs per partition; the final array_sort + slice merges the
    partitions. The sample thus depends on the data alone, not on
    the plan, the width or AQE. Both sorts run in Spark, because the
    driver cannot order compound keys that hold NULL fields (Spark
    puts them first)."""
    keys = [F.col(c) for c in key_cols]
    pruned = base.select(*keys)
    if width is not None:
        pruned = pruned.repartition(width, *keys)
    dups = (
        pruned.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") > 1)
        .sortWithinPartitions(*keys)
        .withColumn(
            "__pos",
            F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1),
        )
    )
    first = F.when(F.col("__pos") < cap, F.struct(*keys, F.col("__cnt")))
    return dups.agg(
        F.sum("__cnt").alias("__total"),
        F.slice(F.array_sort(F.collect_list(first)), 1, cap).alias(
            "__sample"
        ),
    )


def _dup_groups(
    df, key_cols: List[str], consider, cap: int, cache,
    dup_share: Optional[float],
):
    """(duplicated-row count, sample) of dup_groups_frame, collected in
    one query; the plan choice is appended to `cache.decisions`.

    `dup_share` is the share of considered rows that this check's
    previous validate found duplicated (None on its first). Spark
    plans groupBy's exchange at spark.sql.shuffle.partitions, and a
    query cannot set its own; near-unique keys fill every one of its
    partitions on every map task, which costs more than the count
    itself on small inputs. So when the previous validate saw
    near-unique keys (dup_share <= NEAR_UNIQUE_DUP_SHARE) and the
    input is narrower than the session default (common.shuffle_width),
    the keys cross one exchange at the input's width, with no partial
    count: it could have removed at most that share of the rows.
    Otherwise — a first validate, a hot or low-cardinality key, an
    input whose plan holds an exchange — groupBy keeps its partial
    count, which absorbs hot keys map-side."""
    n_in = width = None
    if dup_share is not None and dup_share <= NEAR_UNIQUE_DUP_SHARE:
        n_in, width = shuffle_width(df)
    base = df.where(consider) if consider is not None else df
    cache.decisions.append({
        "op": "dup_groups:" + ":".join(key_cols),
        "dup_share": dup_share,
        "input_partitions": n_in,
        "shuffle_width": width,
        "map_side_partial_agg": width is None,
    })
    row = dup_groups_frame(base, key_cols, cap, width).first()
    return int(row["__total"] or 0), row["__sample"]


def _rf_and_cap(cfg, cache: MetricCache):
    rf = parse_result_format(
        cfg.kwargs.get("result_format", cache.result_format)
    )
    cap = (
        cache.complete_cap
        if result_format_at_least(rf, "COMPLETE")
        else rf["partial_unexpected_count"]
    )
    return rf, max(cap, 1)


def compile_values_unique(index, cfg, schema) -> JobCheck:
    """expect_column_values_to_be_unique."""
    column = cfg.kwargs["column"]
    mostly = get_mostly(cfg.kwargs)
    c = F.col(column)
    seen: Dict[str, float] = {}  # this check's last validate

    def spark_work(df, cache: MetricCache):
        _, cap = _rf_and_cap(cfg, cache)
        return cache._get(
            f"dup_groups:{column}:{cap}",
            lambda: _dup_groups(
                df, [column], c.isNotNull(), cap, cache,
                seen.get("dup_share"),
            ),
        )

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        rf, cap = _rf_and_cap(cfg, cache)
        element_count = stats["table.row_count"]
        nonnull = stats[f"nonnull:{column}"]
        want_lists = rf["result_format"] != "BOOLEAN_ONLY"
        unexpected_count, pairs = spark_work(df, cache)
        if nonnull:
            seen["dup_share"] = unexpected_count / nonnull
        unexpected_list = None
        if want_lists:
            unexpected_list = []
            for row in pairs:
                unexpected_list.extend([row[0]] * row["__cnt"])
                if len(unexpected_list) >= cap:
                    break
            unexpected_list = unexpected_list[:cap]
        success = (
            True
            if element_count == 0 or nonnull == 0
            else mostly_success(nonnull, unexpected_count, mostly)
        )
        out = format_map_output(
            result_format=rf,
            success=success,
            element_count=element_count,
            nonnull_count=nonnull,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )
        return out["success"], out.get("result", {})

    return JobCheck(
        index=index,
        config=cfg,
        needs={
            "table.row_count": F.count(F.lit(1)),
            f"nonnull:{column}": F.sum(F.when(c.isNotNull(), 1).otherwise(0)),
        },
        run=run,
        prefetch=spark_work,
    )


def compile_compound_unique(index, cfg, schema) -> JobCheck:
    """expect_compound_columns_to_be_unique; a count over the column
    tuple replaces the reference's struct-window
    (compound_columns_unique.py:149-155)."""
    cols = list(cfg.kwargs["column_list"])
    ignore_row_if = cfg.kwargs.get("ignore_row_if", "all_values_are_missing")
    mostly = get_mostly(cfg.kwargs)
    consider_key = f"multi:{':'.join(cols)}:{ignore_row_if}"
    seen: Dict[str, float] = {}  # this check's last validate

    def spark_work(df, cache: MetricCache):
        _, cap = _rf_and_cap(cfg, cache)
        return cache._get(
            f"dup_groups:{':'.join(cols)}:{ignore_row_if}:{cap}",
            lambda: _dup_groups(
                df, cols, multi_consider(cols, ignore_row_if), cap, cache,
                seen.get("dup_share"),
            ),
        )

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        rf, cap = _rf_and_cap(cfg, cache)
        element_count = stats["table.row_count"]
        filtered = stats[f"considered:{consider_key}"]
        want_lists = rf["result_format"] != "BOOLEAN_ONLY"
        unexpected_count, rows = spark_work(df, cache)
        if filtered:
            seen["dup_share"] = unexpected_count / filtered
        unexpected_list = None
        if want_lists:
            unexpected_list = []
            for row in rows:
                rec = {c: row[c] for c in cols}
                unexpected_list.extend([rec] * row["__cnt"])
                if len(unexpected_list) >= cap:
                    break
            unexpected_list = unexpected_list[:cap]
        success = (
            True
            if element_count == 0 or filtered == 0
            else mostly_success(filtered, unexpected_count, mostly)
        )
        out = format_map_output(
            result_format=rf,
            success=success,
            element_count=element_count,
            nonnull_count=filtered,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )
        return out["success"], out.get("result", {})

    consider = multi_consider(cols, ignore_row_if)
    return JobCheck(
        index=index,
        config=cfg,
        needs={
            "table.row_count": F.count(F.lit(1)),
            f"considered:{consider_key}": F.sum(
                F.when(consider, 1).otherwise(0)
            ),
        },
        run=run,
        prefetch=spark_work,
    )


def compile_phash_near_duplicate_rate(index, cfg, schema) -> JobCheck:
    """expect_column_phash_near_duplicate_rate_to_be_between: the
    fraction of rows whose 64-bit perceptual hash lies within
    ``max_hamming`` bits of another row's — near-duplicate images by
    content, not byte equality. No reference counterpart (its Spark
    uniqueness checks are exact-match only, column_values_unique.py);
    this is the declarative face of the phash_hamming_neardup query
    over the north-rule ``phash:int64`` column: it runs the query's
    kernel, suite_queries.phash_near_pairs, and counts the DISTINCT
    rows in a verified pair. kwargs: max_hamming (default
    _PHASH_HAMMING_MAX = 6), bucket_cap (default _LSH_BUCKET_CAP =
    64), min_value/max_value bounds on the rate.
    """
    from ..core.result import validate_metric_value_between
    from ..suite_queries import _LSH_BUCKET_CAP, _PHASH_HAMMING_MAX

    column = cfg.kwargs["column"]
    max_hamming = int(cfg.kwargs.get("max_hamming", _PHASH_HAMMING_MAX))
    bucket_cap = int(cfg.kwargs.get("bucket_cap", _LSH_BUCKET_CAP))
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        from ..suite_queries import phash_near_pairs

        # persist pins the monotonically_increasing_id assignment: the
        # kernel reads the frame three times (bands + both verify
        # sides), and without materialization a re-planned recompute
        # could assign different ids per read, joining pairs to the
        # wrong hashes. 16 bytes/row, MEMORY_AND_DISK, freed below.
        ids = (
            df.select(F.col(column).cast("long").alias("ph"))
            .where(F.col("ph").isNotNull())
            .withColumn("doc_id", F.monotonically_increasing_id())
            .persist()
        )
        try:
            verified = phash_near_pairs(ids, max_hamming, bucket_cap)
            agg = verified.select(
                F.explode(F.array("doc_a", "doc_b")).alias("d")
            ).agg(F.count_distinct("d").alias("involved"))
            involved = agg.first()["involved"]
            element_count = ids.count()
        finally:
            ids.unpersist()
        rate = involved / element_count if element_count else 0.0
        out = validate_metric_value_between(rate, **kw)
        return out["success"], {
            "observed_value": rate,
            "element_count": element_count,
            "details": {
                "near_duplicate_rows": involved,
                "max_hamming": max_hamming,
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_duplicate_segment_rate(index, cfg, schema) -> JobCheck:
    """expect_column_duplicate_segment_rate_to_be_between: the
    fraction of non-overlapping ``segment_tokens``-token segments of
    a text column that also occur in at least one OTHER row — the
    declarative face of the segment_dedup_stats corpus audit
    (RefinedWeb-style exact-substring duplication pressure).
    Within-row repetition deliberately does not count (a looping doc
    is a repetition problem, not a corpus-dedup one).

    It runs the audit's kernels, suite_queries.segment_instances and
    segment_dup_counts, over rows keyed by a monotonic id; the sums do
    not depend on the id values. kwargs: column,
    segment_tokens (default 8), min_value/max_value bounds.
    """
    from ..core.result import validate_metric_value_between

    column = cfg.kwargs["column"]
    seg_len = int(cfg.kwargs.get("segment_tokens", 8))
    if seg_len < 1:
        raise ValueError("segment_tokens must be >= 1")
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        from ..suite_queries import segment_dup_counts, segment_instances

        ids = (
            df.select(F.col(column).cast("string").alias("txt"))
            .where(F.col("txt").isNotNull())
            .withColumn("rid", F.monotonically_increasing_id())
        )
        agg = segment_dup_counts(
            segment_instances(ids, ["rid"], "txt", seg_len)
        ).first()
        total = int(agg["segs"] or 0)
        dup = int(agg["dups"] or 0)
        rate = dup / total if total else 0.0
        out = validate_metric_value_between(rate, **kw)
        return out["success"], {
            "observed_value": rate,
            "element_count": total,
            "details": {
                "duplicate_segments": dup,
                "segment_tokens": seg_len,
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


UNIQUE_COMPILERS = {
    "expect_column_values_to_be_unique": compile_values_unique,
    "expect_column_phash_near_duplicate_rate_to_be_between": (
        compile_phash_near_duplicate_rate
    ),
    "expect_column_duplicate_segment_rate_to_be_between": (
        compile_duplicate_segment_rate
    ),
    "expect_compound_columns_to_be_unique": compile_compound_unique,
    # "unique together" with all duplicate instances failed — identical
    # evaluation to the compound check
    # (ref expect_multicolumn_values_to_be_unique.py: ColumnMapExpectation
    # over column_list; ours shares the key-count plan)
    "expect_multicolumn_values_to_be_unique": compile_compound_unique,
}
