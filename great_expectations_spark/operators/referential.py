"""Referential-integrity checks (ours; the reference has no join-based
expectation — closest are in_set with a literal set and
QueryExpectation SQL, SURVEY.md §2.2 "Joins").

expect_foreign_keys_to_exist: every (non-null) foreign-key tuple in the
batch must exist in a reference table. Implemented as a left-anti join
against the distinct key projection of the dimension side; the
dimension is broadcast when small (explicit hint via ``broadcast=True``
or left to AQE + autoBroadcastJoinThreshold otherwise). Violation rows
are exactly the anti-join output.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Dict, List

from pyspark.sql import functions as F

from ..core.config import parse_result_format, result_format_at_least
from ..core.result import format_map_output, mostly_success
from .checks import JobCheck, MetricCache
from .common import between_kwargs, get_mostly


def compile_foreign_keys_exist(index, cfg, schema) -> JobCheck:
    columns: List[str] = (
        list(cfg.kwargs.get("column_list") or [])
        or [cfg.kwargs["column"]]
    )
    ref_table = cfg.kwargs["reference_table_name"]
    ref_columns: List[str] = (
        list(cfg.kwargs.get("reference_column_list") or [])
        or [cfg.kwargs.get("reference_column") or columns[0]]
    )
    if len(columns) != len(ref_columns):
        raise ValueError("column_list and reference_column_list lengths differ")
    force_broadcast = bool(cfg.kwargs.get("broadcast", False))
    mostly = get_mostly(cfg.kwargs)

    nonnull = reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in columns]
    )
    consider_key = f"fk:{':'.join(columns)}"

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        rf = parse_result_format(
            cfg.kwargs.get("result_format", cache.result_format)
        )
        aux = cache.aux_tables
        if ref_table not in aux:
            raise ValueError(
                f"reference table {ref_table!r} not provided to the validator"
            )
        element_count = stats["table.row_count"]
        considered = stats[f"considered:{consider_key}"]

        dim = (
            aux[ref_table]
            .select(*[F.col(rc).alias(f"__ref_{i}") for i, rc in enumerate(ref_columns)])
            .distinct()
        )
        if force_broadcast:
            dim = F.broadcast(dim)
        join_cond = reduce(
            lambda a, b: a & b,
            [
                F.col(c).eqNullSafe(F.col(f"__ref_{i}"))
                for i, c in enumerate(columns)
            ],
        )
        # Orphans: FK tuples absent from the dimension. Aggregate count
        # + bounded sample in one cached anti-join plan.
        orphans = df.where(nonnull).join(dim, join_cond, "left_anti")
        unexpected_count = orphans.count()

        unexpected_list = None
        if rf["result_format"] != "BOOLEAN_ONLY":
            cap = (
                cache.complete_cap
                if result_format_at_least(rf, "COMPLETE")
                else rf["partial_unexpected_count"]
            )
            rows = orphans.select(*columns).limit(cap).collect()
            if len(columns) == 1:
                unexpected_list = [r[0] for r in rows]
            else:
                unexpected_list = [
                    {c: r[c] for c in columns} for r in rows
                ]

        success = (
            True
            if element_count == 0 or considered == 0
            else mostly_success(considered, unexpected_count, mostly)
        )
        out = format_map_output(
            result_format=rf,
            success=success,
            element_count=element_count,
            nonnull_count=considered,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )
        return out["success"], out.get("result", {})

    return JobCheck(
        index=index,
        config=cfg,
        needs={
            "table.row_count": F.count(F.lit(1)),
            f"considered:{consider_key}": F.sum(
                F.when(nonnull, 1).otherwise(0)
            ),
        },
        run=run,
    )


def compile_distinct_overlap_between(index, cfg, schema) -> JobCheck:
    """expect_column_distinct_overlap_with_reference_to_be_between —
    approximate distinct-set overlap between the batch column and a
    reference table's column via Datasketches theta sketches: one
    column-pruned scan per side builds a fixed-size sketch
    (map-side-combinable, no distinct-value exchange, no join), then a
    tiny two-row job takes union/intersection estimates. The
    train/test contamination check at 10^12 rows — an exact
    overlap there is a distinct+join whose shuffle IS the job.
    Exact below ~2^lg_k retained entries (default lg_k 12 -> 4096),
    relative error ~1/sqrt(2^lg_k) above; intersection error grows as
    overlap shrinks — this is a gate, not an audit. Ours; the
    reference has no cross-table expectation (closest:
    QueryExpectation SQL, expectation.py:2250-2352).

    kwargs: column, reference_table_name, reference_column (default =
    column), metric in {"overlap_count", "jaccard", "containment"}
    (containment = overlap / batch-side distinct — the fraction of
    this batch's values also present in the reference), lg_k,
    min_value/max_value/strict_min/strict_max.
    """
    from ..core.result import validate_metric_value_between

    column = cfg.kwargs["column"]
    ref_table = cfg.kwargs["reference_table_name"]
    ref_column = cfg.kwargs.get("reference_column") or column
    metric = cfg.kwargs.get("metric", "overlap_count")
    if metric not in ("overlap_count", "jaccard", "containment"):
        raise ValueError(f"unknown overlap metric {metric!r}")
    lg_k = int(cfg.kwargs.get("lg_k", 12))

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        aux = cache.aux_tables
        if ref_table not in aux:
            raise ValueError(
                f"reference table {ref_table!r} not provided to the validator"
            )

        def sketches():
            a = df.agg(
                F.theta_sketch_agg(F.col(column), lg_k).alias("s")
            ).first()["s"]
            b = aux[ref_table].agg(
                F.theta_sketch_agg(F.col(ref_column), lg_k).alias("s")
            ).first()["s"]
            spark = df.sparkSession
            # one partition: theta_intersection_agg throws on empty
            # partitions (an empty intersection accumulator would be
            # the infinite set)
            two = spark.createDataFrame(
                [(0, a), (1, b)], "side int, s binary"
            ).coalesce(1)
            return two.agg(
                F.theta_sketch_estimate(
                    F.theta_union_agg("s", lg_k)
                ).alias("union"),
                F.theta_sketch_estimate(
                    F.theta_intersection_agg("s")
                ).alias("overlap"),
                F.theta_sketch_estimate(
                    F.theta_union_agg(
                        F.when(F.col("side") == 0, F.col("s")), lg_k
                    )
                ).alias("batch"),
                F.theta_sketch_estimate(
                    F.theta_union_agg(
                        F.when(F.col("side") == 1, F.col("s")), lg_k
                    )
                ).alias("reference"),
            ).first().asDict()

        est = cache._get(
            f"theta_overlap:{column}:{ref_table}:{ref_column}:{lg_k}",
            sketches,
        )
        if metric == "overlap_count":
            value = est["overlap"]
        elif metric == "jaccard":
            value = (
                est["overlap"] / est["union"] if est["union"] else None
            )
        else:  # containment
            value = (
                est["overlap"] / est["batch"] if est["batch"] else None
            )
        out = validate_metric_value_between(value, **between_kwargs(cfg))
        out["result"]["details"] = {
            "overlap_count": est["overlap"],
            "union_count": est["union"],
            "batch_distinct": est["batch"],
            "reference_distinct": est["reference"],
        }
        return out["success"], out["result"]

    return JobCheck(index=index, config=cfg, run=run)


def compile_split_leakage_rate(index, cfg, schema) -> JobCheck:
    """expect_column_split_leakage_rate_to_be_between: fraction of
    rows in the eval split — rows where ``eval_condition`` (a Spark
    SQL boolean expression over this table's columns) is true —
    whose ``column`` value also occurs in the train split (all other
    rows). The declarative face of the phash_split_leakage audit:
    exact train/eval decontamination within ONE table, vs
    expect_column_distinct_overlap_with_reference's sketch-
    approximate check across two tables.

    It runs the audit's kernel, suite_queries.split_leakage_counts,
    as one global aggregate over (key, eval flag) rows. No persist:
    each side is a single cheap column-pruned scan, and caching a
    10^12-row projection would cost more than the second scan. When
    even the distinct table is too big to shuffle, use the
    theta-sketch overlap expectation instead (documented approximate
    fallback). kwargs: column, eval_condition,
    min_value/max_value/strict_*.
    """
    from ..core.result import validate_metric_value_between

    column = cfg.kwargs["column"]
    eval_condition = cfg.kwargs["eval_condition"]
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        from ..suite_queries import split_leakage_counts

        try:
            cond = F.expr(eval_condition).cast("boolean")
        except Exception as exc:  # noqa: BLE001 - surfaced as EVR
            raise ValueError(
                f"eval_condition failed to parse: {exc}"
            ) from exc
        flagged = df.select(
            F.col(column).alias("__k"),
            F.coalesce(cond, F.lit(False)).alias("__ev"),
        ).where(F.col("__k").isNotNull())
        agg = split_leakage_counts(flagged, "__k", "__ev").first()
        n = int(agg["n"] or 0)
        leaked = int(agg["leaked"] or 0)
        rate = leaked / n if n else 0.0
        out = validate_metric_value_between(rate, **kw)
        return out["success"], {
            "observed_value": rate,
            "element_count": n,
            "details": {
                "leaked_rows": leaked,
                "leaked_keys": int(agg["leaked_keys"] or 0),
                "eval_condition": eval_condition,
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


REFERENTIAL_COMPILERS = {
    "expect_foreign_keys_to_exist": compile_foreign_keys_exist,
    "expect_column_distinct_overlap_with_reference_to_be_between":
        compile_distinct_overlap_between,
    "expect_column_split_leakage_rate_to_be_between":
        compile_split_leakage_rate,
}
