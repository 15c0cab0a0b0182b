"""Aggregate, schema-level, and value-metric expectation compilers.

AggChecks contribute named aggregate Columns that the planner fuses
into ONE ``df.agg(...)`` per suite — the reference bundles these the
same way per compute-domain (sparkdf_execution_engine.py:669-747) but
re-resolves per expectation; we dedupe by stat key at plan time.

SchemaChecks are driver-only (df.schema), matching the reference's
treatment of table.columns / table.column_types
(table_metrics/table_columns.py:49-59, table_column_types.py:78-95).

Value-metric JobChecks (median, quantiles, distinct sets,
value_counts) run their own jobs through the shared MetricCache.
"""

from __future__ import annotations

import datetime
import json
from typing import Any, Dict, Optional

from pyspark.sql import functions as F
from pyspark.sql import types as sparktypes

from .checks import AggCheck, JobCheck, MetricCache, SchemaCheck
from .common import between_kwargs
from ..core.result import validate_metric_value_between


def _metric_between_outcome(value, cfg):
    out = validate_metric_value_between(value, **between_kwargs(cfg))
    return out["success"], out["result"]


def _simple_agg_between(metric_key: str, agg_builder):
    """Factory for expect_column_<stat>_to_be_between compilers.

    Ref: _validate_metric_value_between (expectation.py:2153-2247) and
    the agg-partial metrics column_min.py:65-85 etc.
    """

    def compile_fn(index, cfg, schema):
        column = cfg.kwargs["column"]
        key = f"{metric_key}:{column}"
        return AggCheck(
            index=index,
            config=cfg,
            needs={key: agg_builder(F.col(column))},
            finalize=lambda stats: _metric_between_outcome(stats.get(key), cfg),
        )

    return compile_fn


compile_min_between = _simple_agg_between("column.min", F.min)
compile_max_between = _simple_agg_between("column.max", F.max)
compile_mean_between = _simple_agg_between("column.mean", F.mean)
compile_sum_between = _simple_agg_between("column.sum", F.sum)
compile_stdev_between = _simple_agg_between(
    "column.standard_deviation", F.stddev_samp
)


def _distinct_count_need(column: str, cfg, schema=None):
    """(stat key, distinct-count expression) honoring the
    ``approximate``/``rsd`` kwargs. Exact countDistinct expands every
    distinct value through the shuffle — at 10^12 rows on a
    high-cardinality column that exchange IS the job. With
    approximate=True the stat is a fixed-size HyperLogLog sketch
    (default rsd 0.05 — Spark's approx_count_distinct default), which
    keeps the whole suite map-side-combinable. For the types Spark's
    hll_sketch_agg supports (int/bigint/string/binary) the key carries
    a ``~hll`` marker and the single-pass planner turns it into a
    MERGEABLE Datasketches sketch partial — fused into the one
    per-partition pass (no extra scan) and union-mergeable across
    second-level buckets AND incremental checkpoint runs. Other types
    use approx_count_distinct (HLL++) as a leftover aggregate. No
    reference counterpart (its Spark engine is exact-only,
    column_distinct_values.py:126-137); opt-in, default exact."""
    c = F.col(column)
    if cfg.kwargs.get("approximate"):
        rsd = float(cfg.kwargs.get("rsd", 0.05))
        dt = None
        if schema is not None:
            try:
                dt = schema[column].dataType
            except (KeyError, TypeError):
                dt = None
        if isinstance(
            dt,
            (
                sparktypes.IntegerType,
                sparktypes.LongType,
                sparktypes.StringType,
                sparktypes.BinaryType,
            ),
        ):
            return (
                f"column.distinct_values.count~hll{rsd}:{column}",
                F.approx_count_distinct(c, rsd),
            )
        return (
            f"column.distinct_values.count~approx{rsd}:{column}",
            F.approx_count_distinct(c, rsd),
        )
    return f"column.distinct_values.count:{column}", F.countDistinct(c)


def compile_unique_value_count_between(index, cfg, schema):
    """Exact distinct count (column_distinct_values.py:126-137);
    approximate=True switches to a HyperLogLog++ sketch."""
    column = cfg.kwargs["column"]
    key, expr = _distinct_count_need(column, cfg, schema)
    return AggCheck(
        index=index,
        config=cfg,
        needs={key: expr},
        finalize=lambda stats: _metric_between_outcome(stats.get(key), cfg),
    )


def compile_proportion_unique_between(index, cfg, schema):
    """distinct/nonnull (column_proportion_of_unique_values.py:41-66);
    approximate=True switches the numerator to a HLL++ sketch."""
    column = cfg.kwargs["column"]
    dkey, dexpr = _distinct_count_need(column, cfg, schema)
    nkey = f"nonnull:{column}"

    def finalize(stats):
        distinct = stats.get(dkey)
        nonnull = stats.get(nkey)
        prop = (distinct / nonnull) if nonnull else 0
        return _metric_between_outcome(prop, cfg)

    c = F.col(column)
    return AggCheck(
        index=index,
        config=cfg,
        needs={
            dkey: dexpr,
            nkey: F.sum(F.when(c.isNotNull(), 1).otherwise(0)),
        },
        finalize=finalize,
    )


def compile_table_row_count_between(index, cfg, schema):
    key = "table.row_count"
    return AggCheck(
        index=index,
        config=cfg,
        needs={key: F.count(F.lit(1))},
        finalize=lambda stats: _metric_between_outcome(stats.get(key), cfg),
    )


def compile_table_row_count_equal(index, cfg, schema):
    key = "table.row_count"
    expected = int(cfg.kwargs["value"])

    def finalize(stats):
        observed = stats.get(key)
        return observed == expected, {"observed_value": observed}

    return AggCheck(
        index=index, config=cfg, needs={key: F.count(F.lit(1))}, finalize=finalize
    )


# --- value-metric JobChecks ---------------------------------------------------

_KLL_NUMERIC = (
    sparktypes.ByteType,
    sparktypes.ShortType,
    sparktypes.IntegerType,
    sparktypes.LongType,
    sparktypes.FloatType,
    sparktypes.DoubleType,
    sparktypes.DecimalType,
)


def _kll_quantiles_need(column, quantiles, cfg, schema):
    """(stat key, quantiles expression) for ``approximate=True``
    quantile/median expectations on numeric columns, or None when the
    column type can't feed kll_sketch_agg_double (the caller falls
    back to the exact approxQuantile JobCheck). The stat is a
    Datasketches KLL sketch — fixed size (~3 KB at the default
    k=200, normalized rank error ~1.65%; pass sketch_k to trade
    memory for accuracy), so the single-pass planner fuses it into
    the one per-partition pass and it merge-unions across
    second-level buckets AND incremental checkpoint runs. The exact
    path is a separate full-scan approxQuantile job each run. No
    reference counterpart (its Spark metric is exact-only,
    column_quantile_values.py:177-209); opt-in, default exact."""
    if schema is None:
        return None
    try:
        dt = schema[column].dataType
    except (KeyError, TypeError):
        return None
    if not isinstance(dt, _KLL_NUMERIC):
        return None
    k = int(cfg.kwargs.get("sketch_k", 200))
    qs = [float(q) for q in quantiles]
    key = f"column.quantiles~kll{k}:{column}:{json.dumps(qs)}"
    sk = F.kll_sketch_agg_double(F.col(column).cast("double"), F.lit(k))
    # guard: extracting quantiles from an empty (all-null) sketch
    # throws KLL_INVALID_INPUT_SKETCH_BUFFER; when() short-circuits it
    expr = F.when(
        F.kll_sketch_get_n_double(sk) > 0,
        F.kll_sketch_get_quantile_double(
            sk, F.array(*[F.lit(q) for q in qs])
        ),
    )
    return key, expr


def compile_median_between(index, cfg, schema):
    """Exact median via the ε-quantile trick (column_median.py:90-121);
    approximate=True switches to a mergeable KLL quantile sketch fused
    into the single pass."""
    column = cfg.kwargs["column"]

    if cfg.kwargs.get("approximate"):
        need = _kll_quantiles_need(column, [0.5], cfg, schema)
        if need is not None:
            key, expr = need

            def finalize(stats):
                vals = stats.get(key)
                return _metric_between_outcome(
                    vals[0] if vals else None, cfg
                )

            return AggCheck(
                index=index, config=cfg, needs={key: expr},
                finalize=finalize,
            )

    def run(df, stats, cache: MetricCache):
        return _metric_between_outcome(cache.median(column), cfg)

    return JobCheck(index=index, config=cfg, run=run)


def compile_quantile_values_between(index, cfg, schema):
    """Per-quantile range checks
    (expect_column_quantile_values_to_be_between.py; Spark metric
    column_quantile_values.py:177-209)."""
    column = cfg.kwargs["column"]
    qranges = cfg.kwargs["quantile_ranges"]
    quantiles = list(qranges["quantiles"])
    value_ranges = list(qranges["value_ranges"])
    if len(quantiles) != len(value_ranges):
        raise ValueError(
            "quantile_values and quantiles must have the same number of elements"
        )
    allow_rel_err = cfg.kwargs.get("allow_relative_error", False)
    rel_err = float(allow_rel_err) if allow_rel_err else 0.0

    def outcome(values):
        details = []
        for v, (lo, hi) in zip(values, value_ranges):
            ok = (
                v is not None
                and (lo is None or v >= lo)
                and (hi is None or v <= hi)
            )
            details.append(ok)
        return all(details), {
            "observed_value": {"quantiles": quantiles, "values": values},
            "details": {"success_details": details},
        }

    if cfg.kwargs.get("approximate"):
        need = _kll_quantiles_need(column, quantiles, cfg, schema)
        if need is not None:
            key, expr = need
            return AggCheck(
                index=index, config=cfg, needs={key: expr},
                finalize=lambda stats: outcome(
                    stats.get(key) or [None] * len(quantiles)
                ),
            )

    def run(df, stats, cache: MetricCache):
        return outcome(cache.quantiles(column, quantiles, rel_err))

    return JobCheck(index=index, config=cfg, run=run)


def _distinct_outcome(cache: MetricCache, column: str):
    vc = cache.value_counts(column)
    observed_set = {v for v, _ in vc}
    details = {"value_counts": [{"value": v, "count": c} for v, c in vc]}
    return observed_set, details


def compile_distinct_in_set(index, cfg, schema):
    """observed ⊆ expected (expect_column_distinct_values_to_be_in_set.py:353-383)."""
    column = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set") or []

    def run(df, stats, cache):
        observed, details = _distinct_outcome(cache, column)
        success = True if not value_set else observed.issubset(set(value_set))
        return success, {
            "observed_value": sorted(observed),
            "details": details,
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_distinct_contain_set(index, cfg, schema):
    """expected ⊆ observed (expect_column_distinct_values_to_contain_set.py)."""
    column = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set") or []

    def run(df, stats, cache):
        observed, details = _distinct_outcome(cache, column)
        return set(value_set).issubset(observed), {
            "observed_value": sorted(observed),
            "details": details,
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_distinct_equal_set(index, cfg, schema):
    """observed == expected (expect_column_distinct_values_to_equal_set.py:256-283)."""
    column = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set") or []

    def run(df, stats, cache):
        observed, details = _distinct_outcome(cache, column)
        return observed == set(value_set), {
            "observed_value": sorted(observed),
            "details": details,
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_most_common_value_in_set(index, cfg, schema):
    """Modes ∩ value_set (expect_column_most_common_value_to_be_in_set.py:245-264)."""
    column = cfg.kwargs["column"]
    value_set = set(cfg.kwargs.get("value_set") or [])
    ties_okay = cfg.kwargs.get("ties_okay")

    def run(df, stats, cache):
        vc = cache.value_counts(column)
        if not vc:
            return False, {"observed_value": []}
        max_count = max(c for _, c in vc)
        modes = sorted([v for v, c in vc if c == max_count], key=lambda x: str(x))
        intersection = len(value_set.intersection(modes))
        if ties_okay:
            success = intersection > 0
        else:
            success = len(modes) == 1 and intersection == 1
        return success, {"observed_value": modes}

    return JobCheck(index=index, config=cfg, run=run)


def compile_value_share_match_targets(index, cfg, schema):
    """expect_column_value_share_to_match_targets: each tracked
    value's share of non-null rows must sit within ``tolerance`` of
    its target proportion — the composition gate on a training mix
    (the declarative face of the source_mix_sample pipeline,
    suite_queries.py). No reference counterpart (closest:
    expect_column_most_common_value_to_be_in_set); extension.

    kwargs: column, targets (dict value -> proportion in [0, 1]),
    tolerance (absolute, default 0.05), require_tracked_values
    (default True: a target value absent from the data fails; False
    treats it as share 0.0 and checks the tolerance anyway — same
    arithmetic, explicit intent).

    Rides the cached value_counts metric, so fused in a suite with
    other value_counts consumers it costs ZERO extra jobs; standalone
    it is one map-side-partial hash agg on the mix column."""
    column = cfg.kwargs["column"]
    targets = dict(cfg.kwargs.get("targets") or {})
    tolerance = float(cfg.kwargs.get("tolerance", 0.05))
    require_tracked = bool(cfg.kwargs.get("require_tracked_values", True))
    if not targets:
        raise ValueError(
            "expect_column_value_share_to_match_targets requires a "
            "non-empty `targets` dict of value -> proportion"
        )

    def run(df, stats, cache: MetricCache):
        vc = dict(cache.value_counts(column))
        total = sum(vc.values())
        if total == 0:
            return False, {
                "observed_value": {},
                "details": {"element_count": 0},
            }
        shares = {
            str(v): round(vc.get(v, 0) / total, 6) for v in targets
        }
        deviations = {
            str(v): abs(vc.get(v, 0) / total - float(t))
            for v, t in targets.items()
        }
        missing = [str(v) for v in targets if v not in vc]
        success = all(d <= tolerance for d in deviations.values()) and (
            not (require_tracked and missing)
        )
        return success, {
            "observed_value": shares,
            "details": {
                "max_abs_deviation": round(max(deviations.values()), 6),
                "tolerance": tolerance,
                "missing_values": missing,
                "element_count": total,
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_row_count_equal_other_table(index, cfg, schema):
    """Compare two batches' counts
    (expect_table_row_count_to_equal_other_table.py). The other table
    is resolved from the validator's aux_tables by name."""
    other = cfg.kwargs["other_table_name"]

    def run(df, stats, cache: MetricCache):
        aux = getattr(cache, "aux_tables", {})
        if other not in aux:
            raise ValueError(f"aux table {other!r} not provided to validator")
        this_count = stats.get("table.row_count")
        if this_count is None:
            this_count = df.count()
        other_count = aux[other].count()
        return this_count == other_count, {
            "observed_value": {"self": this_count, "other": other_count}
        }

    return JobCheck(
        index=index,
        config=cfg,
        needs={"table.row_count": F.count(F.lit(1))},
        run=run,
    )


# --- schema checks (driver-only, zero jobs) -----------------------------------

def compile_column_to_exist(index, cfg, schema_unused):
    column = cfg.kwargs["column"]
    column_index = cfg.kwargs.get("column_index")

    def evaluate(schema):
        names = [f.name for f in schema.fields]
        if column not in names:
            return False, {}
        if column_index is not None and names.index(column) != column_index:
            return False, {}
        return True, {}

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def compile_columns_match_ordered_list(index, cfg, schema_unused):
    expected = cfg.kwargs.get("column_list")

    def evaluate(schema):
        names = [f.name for f in schema.fields]
        if expected is None:
            return True, {"observed_value": names}
        success = names == list(expected)
        result: Dict[str, Any] = {"observed_value": names}
        if not success:
            # mismatch detail like the reference's diff list
            import itertools

            mismatched = []
            for i, (exp, obs) in enumerate(
                itertools.zip_longest(expected, names)
            ):
                if exp != obs:
                    mismatched.append(
                        {"Expected Column Position": i, "Expected": exp, "Found": obs}
                    )
            result["details"] = {"mismatched": mismatched}
        return success, result

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def compile_columns_match_set(index, cfg, schema_unused):
    expected = set(cfg.kwargs.get("column_set") or [])
    exact_match = cfg.kwargs.get("exact_match", True)

    def evaluate(schema):
        observed = {f.name for f in schema.fields}
        if exact_match in (True, None):
            success = observed == expected
        else:
            success = expected.issubset(observed)
        result: Dict[str, Any] = {"observed_value": sorted(observed)}
        unexpected = sorted(observed - expected)
        missing = sorted(expected - observed)
        if unexpected or missing:
            result["details"] = {
                "mismatched": {"unexpected": unexpected, "missing": missing}
            }
        return success, result

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def compile_column_count_between(index, cfg, schema_unused):
    kw = between_kwargs(cfg)

    def evaluate(schema):
        out = validate_metric_value_between(len(schema.fields), **kw)
        return out["success"], out["result"]

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def compile_column_count_equal(index, cfg, schema_unused):
    expected = int(cfg.kwargs["value"])

    def evaluate(schema):
        n = len(schema.fields)
        return n == expected, {"observed_value": n}

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def _spark_type_matches(actual, type_name: Optional[str]) -> bool:
    """Schema-level type check, matching the reference's Spark branch
    (expect_column_values_to_be_of_type.py:413-434): isinstance against
    getattr(pyspark.sql.types, name)."""
    if type_name is None:
        return True
    cls = getattr(sparktypes, type_name, None)
    if cls is None:
        return type(actual).__name__ == type_name
    try:
        return isinstance(actual, cls)
    except TypeError:
        return False


def compile_values_of_type(index, cfg, schema_unused):
    column = cfg.kwargs["column"]
    type_ = cfg.kwargs.get("type_")

    def evaluate(schema):
        actual = schema[column].dataType
        return _spark_type_matches(actual, type_), {
            "observed_value": type(actual).__name__
        }

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


def compile_values_in_type_list(index, cfg, schema_unused):
    column = cfg.kwargs["column"]
    type_list = cfg.kwargs.get("type_list")

    def evaluate(schema):
        actual = schema[column].dataType
        if type_list is None:
            return True, {"observed_value": type(actual).__name__}
        ok = any(_spark_type_matches(actual, t) for t in type_list)
        return ok, {"observed_value": type(actual).__name__}

    return SchemaCheck(index=index, config=cfg, evaluate=evaluate)


AGG_COMPILERS = {
    "expect_column_min_to_be_between": compile_min_between,
    "expect_column_max_to_be_between": compile_max_between,
    "expect_column_mean_to_be_between": compile_mean_between,
    "expect_column_sum_to_be_between": compile_sum_between,
    "expect_column_stdev_to_be_between": compile_stdev_between,
    "expect_column_unique_value_count_to_be_between": compile_unique_value_count_between,
    "expect_column_proportion_of_unique_values_to_be_between": compile_proportion_unique_between,
    "expect_table_row_count_to_be_between": compile_table_row_count_between,
    "expect_table_row_count_to_equal": compile_table_row_count_equal,
    "expect_column_median_to_be_between": compile_median_between,
    "expect_column_quantile_values_to_be_between": compile_quantile_values_between,
    "expect_column_distinct_values_to_be_in_set": compile_distinct_in_set,
    "expect_column_distinct_values_to_contain_set": compile_distinct_contain_set,
    "expect_column_distinct_values_to_equal_set": compile_distinct_equal_set,
    "expect_column_most_common_value_to_be_in_set": compile_most_common_value_in_set,
    "expect_column_value_share_to_match_targets": compile_value_share_match_targets,
    "expect_table_row_count_to_equal_other_table": compile_row_count_equal_other_table,
    "expect_column_to_exist": compile_column_to_exist,
    "expect_table_columns_to_match_ordered_list": compile_columns_match_ordered_list,
    "expect_table_columns_to_match_set": compile_columns_match_set,
    "expect_table_column_count_to_be_between": compile_column_count_between,
    "expect_table_column_count_to_equal": compile_column_count_equal,
    "expect_column_values_to_be_of_type": compile_values_of_type,
    "expect_column_values_to_be_in_type_list": compile_values_in_type_list,
}
