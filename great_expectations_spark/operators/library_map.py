"""Map-condition expectation compilers.

Each compiler returns a MapCheck whose ``build(stats)`` produces
(unexpected_cond, value_json_expr). Conditions are expressed with
built-in pyspark.sql.functions so they stay inside whole-stage
codegen; only genuinely non-expressible checks (json parse, dateutil,
untranslatable strftime) drop to Arrow-batched pandas UDFs — never
row-at-a-time Python UDFs (the reference uses plain F.udf for these:
column_values_json_parseable.py:28-39 etc.).

Condition semantics per reference file are cited on each compiler.
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Any, Callable, Dict, List, Tuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    StringType,
    TimestampType,
)

from ..core.config import ExpectationConfiguration
from ..functions.minijsonschema import validates as _json_schema_validates
from .checks import MapCheck
from .common import (
    between_kwargs,
    decode_pair,
    decode_single,
    get_mostly,
    json_pair,
    json_value,
    json_multi,
    make_decode_multi,
    multi_consider,
    pair_consider,
    strftime_to_java,
)

BuildFn = Callable[[Dict[str, Any]], Tuple[Column, Column]]


def _column_map_check(
    index: int,
    cfg: ExpectationConfiguration,
    unexpected_cond: Column,
    column: str,
) -> MapCheck:
    """Standard column map check: nulls filtered from consideration
    (map_metric_provider.py:500-515), denominator = nonnull count
    (expectation.py:2611-2623)."""
    col = F.col(column)
    value = json_value(col)
    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=lambda stats: (unexpected_cond, value),
        consider=lambda: F.col(column).isNotNull(),
        consider_key=f"nonnull:{column}",
        denominator="nonnull",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


# --- null-ness ------------------------------------------------------------

def compile_not_be_null(index, cfg, schema) -> MapCheck:
    """expect_column_values_to_not_be_null: unexpected = nulls; denominator
    = total rows; nonnull_count omitted from the result
    (expect_column_values_to_not_be_null.py:299-334)."""
    column = cfg.kwargs["column"]
    col = F.col(column)
    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=lambda stats: (col.isNull(), json_value(col)),
        consider=None,
        consider_key="",
        denominator="total",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


def compile_be_null(index, cfg, schema) -> MapCheck:
    """expect_column_values_to_be_null: unexpected = non-nulls; denominator
    = total (expect_column_values_to_be_null.py:245-266)."""
    column = cfg.kwargs["column"]
    col = F.col(column)
    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=lambda stats: (col.isNotNull(), json_value(col)),
        consider=None,
        consider_key="",
        denominator="total",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


# --- set membership -------------------------------------------------------

def compile_be_in_set(index, cfg, schema) -> MapCheck:
    """col.isin(value_set); None set → vacuously expected
    (column_values_in_set.py:104-129)."""
    column = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set")
    col = F.col(column)
    if value_set is None:
        cond = F.lit(False)
    elif len(value_set) == 0:
        cond = F.lit(True)  # nothing is in the empty set
    else:
        cond = ~col.isin(list(value_set))
    return _column_map_check(index, cfg, cond, column)


def compile_not_be_in_set(index, cfg, schema) -> MapCheck:
    """~col.isin(value_set) (column_values_not_in_set.py:82-103)."""
    column = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set") or []
    if any(v is None for v in value_set):
        # ref parity: isin(None) is three-valued NULL on the JVM, so
        # the check would silently never match (column_values_not_in_set
        # Spark branch raises the same error)
        raise ValueError(
            "expect_column_values_to_not_be_in_set cannot support a None "
            "in the value_set in spark"
        )
    col = F.col(column)
    cond = col.isin(list(value_set)) if value_set else F.lit(False)
    return _column_map_check(index, cfg, cond, column)


# --- range ----------------------------------------------------------------

def _between_expected(
    col: Column, min_value, max_value, strict_min: bool, strict_max: bool
) -> Column:
    """Expected-condition for between (column_values_between.py:315-376)."""
    if min_value is None and max_value is None:
        raise ValueError("min_value and max_value cannot both be None")
    parts = []
    if min_value is not None:
        parts.append(col > F.lit(min_value) if strict_min else col >= F.lit(min_value))
    if max_value is not None:
        parts.append(col < F.lit(max_value) if strict_max else col <= F.lit(max_value))
    return reduce(lambda a, b: a & b, parts)


def compile_be_between(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    kw = between_kwargs(cfg)
    # parse_strings_as_datetimes (and plain string bounds against a
    # temporal column): bounds become datetime literals so the JVM
    # comparison is temporal, not a failed string cast
    # (ref expect_column_values_to_be_between.py parse semantics)
    is_temporal = column in schema.names and isinstance(
        schema[column].dataType, (TimestampType, DateType)
    )
    if cfg.kwargs.get("parse_strings_as_datetimes") or is_temporal:
        from dateutil.parser import parse as _parse_dt

        for k in ("min_value", "max_value"):
            if isinstance(kw[k], str):
                kw[k] = _parse_dt(kw[k])
    expected = _between_expected(F.col(column), **kw)
    return _column_map_check(index, cfg, ~expected, column)


# --- value lengths ----------------------------------------------------------

def compile_value_lengths_equal(index, cfg, schema) -> MapCheck:
    """F.length(col) == value (column_value_lengths.py:34-84)."""
    column = cfg.kwargs["column"]
    value = cfg.kwargs["value"]
    cond = ~(F.length(F.col(column)) == F.lit(int(value)))
    return _column_map_check(index, cfg, cond, column)


def compile_value_lengths_between(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    expected = _between_expected(
        F.length(F.col(column)), **between_kwargs(cfg)
    )
    return _column_map_check(index, cfg, ~expected, column)


# --- regex / like -----------------------------------------------------------

def compile_match_regex(index, cfg, schema) -> MapCheck:
    """col.rlike(regex) (column_values_match_regex.py:36-38)."""
    column = cfg.kwargs["column"]
    cond = ~F.col(column).rlike(cfg.kwargs["regex"])
    return _column_map_check(index, cfg, cond, column)


def compile_not_match_regex(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    cond = F.col(column).rlike(cfg.kwargs["regex"])
    return _column_map_check(index, cfg, cond, column)


def compile_match_regex_list(index, cfg, schema) -> MapCheck:
    """any/all over rlike (column_values_match_regex_list.py:73-81)."""
    column = cfg.kwargs["column"]
    regexes = cfg.kwargs["regex_list"]
    match_on = cfg.kwargs.get("match_on", "any")
    col = F.col(column)
    matches = [col.rlike(r) for r in regexes]
    if match_on == "all":
        expected = reduce(lambda a, b: a & b, matches)
    else:
        expected = reduce(lambda a, b: a | b, matches)
    return _column_map_check(index, cfg, ~expected, column)


def compile_not_match_regex_list(index, cfg, schema) -> MapCheck:
    """conjunction of ~rlike (column_values_not_match_regex_list.py:52-61)."""
    column = cfg.kwargs["column"]
    regexes = cfg.kwargs["regex_list"]
    col = F.col(column)
    cond = reduce(lambda a, b: a | b, [col.rlike(r) for r in regexes])
    return _column_map_check(index, cfg, cond, column)


def compile_not_contain_pii(index, cfg, schema) -> MapCheck:
    """Extension (no reference counterpart): flags values matching any
    of the standard PII classes (functions/pii.py: email, phone, IPv4,
    SSN) plus optional extra_patterns; pii_classes selects a subset.
    Semantically expect_column_values_to_not_match_regex_list with a
    curated, centrally-maintained pattern list — the violation rows
    feed a redaction pass, the corpus-level mirror is the pii_scan
    query."""
    from ..functions.pii import PII_PATTERNS

    column = cfg.kwargs["column"]
    classes = cfg.kwargs.get("pii_classes")
    unknown = set(classes or []) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(
            f"unknown pii_classes {sorted(unknown)}; "
            f"available: {sorted(PII_PATTERNS)}"
        )
    regexes = [
        p for k, p in PII_PATTERNS.items() if classes is None or k in classes
    ] + list(cfg.kwargs.get("extra_patterns", []))
    col = F.col(column)
    cond = reduce(lambda a, b: a | b, [col.rlike(r) for r in regexes])
    return _column_map_check(index, cfg, cond, column)


def compile_match_like_pattern(index, cfg, schema) -> MapCheck:
    """SQL-only in the reference (column_values_match_like_pattern.py);
    trivially col.like(pattern) on Spark."""
    column = cfg.kwargs["column"]
    cond = ~F.col(column).like(cfg.kwargs["like_pattern"])
    return _column_map_check(index, cfg, cond, column)


def compile_not_match_like_pattern(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    cond = F.col(column).like(cfg.kwargs["like_pattern"])
    return _column_map_check(index, cfg, cond, column)


def compile_match_like_pattern_list(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    patterns = cfg.kwargs["like_pattern_list"]
    match_on = cfg.kwargs.get("match_on", "any")
    col = F.col(column)
    matches = [col.like(p) for p in patterns]
    if match_on == "all":
        expected = reduce(lambda a, b: a & b, matches)
    else:
        expected = reduce(lambda a, b: a | b, matches)
    return _column_map_check(index, cfg, ~expected, column)


def compile_not_match_like_pattern_list(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs["column"]
    patterns = cfg.kwargs["like_pattern_list"]
    col = F.col(column)
    cond = reduce(lambda a, b: a | b, [col.like(p) for p in patterns])
    return _column_map_check(index, cfg, cond, column)


# --- datetime / json parseability -------------------------------------------

def compile_match_strftime_format(index, cfg, schema) -> MapCheck:
    """Reference: per-row strptime UDF
    (column_values_match_strftime_format.py:33-58). Ours: JVM-side
    try_to_timestamp with a translated pattern when possible, else an
    Arrow-batched pandas UDF."""
    column = cfg.kwargs["column"]
    fmt = cfg.kwargs["strftime_format"]
    if column in schema.names and not isinstance(
        schema[column].dataType, StringType
    ):
        raise TypeError(
            "Values passed to expect_column_values_to_match_strftime_format "
            "must be of type string."
        )
    # upfront format validation (ref column_values_match_strftime_format
    # metric: strptime(strftime(now, fmt), fmt) round-trip)
    import datetime as _dt

    try:
        _dt.datetime.strptime(
            _dt.datetime.strftime(_dt.datetime.now(), fmt), fmt
        )
    except ValueError as e:
        raise ValueError(
            f"Unable to use provided strftime_format: {e}"
        ) from e
    col = F.col(column)
    java_fmt = strftime_to_java(fmt)
    if java_fmt is not None:
        cond = F.try_to_timestamp(col, F.lit(java_fmt)).isNull()
    else:
        @F.pandas_udf(BooleanType())
        def _strptime_ok(s: pd.Series) -> pd.Series:
            import datetime

            def ok(v):
                if v is None:
                    return None
                try:
                    datetime.datetime.strptime(str(v), fmt)
                    return True
                except (ValueError, TypeError):
                    return False

            return pd.Series([ok(v) for v in s], dtype="boolean")

        cond = ~_strptime_ok(col)
    return _column_map_check(index, cfg, cond, column)


def compile_json_parseable(index, cfg, schema) -> MapCheck:
    """Reference: per-row json.loads UDF
    (column_values_json_parseable.py:28-39). Ours: pandas UDF."""
    column = cfg.kwargs["column"]

    @F.pandas_udf(BooleanType())
    def _json_ok(s: pd.Series) -> pd.Series:
        def ok(v):
            if v is None:
                return None
            try:
                json.loads(v)
                return True
            except (ValueError, TypeError):
                return False

        return pd.Series([ok(v) for v in s], dtype="boolean")

    cond = ~_json_ok(F.col(column))
    return _column_map_check(index, cfg, cond, column)


def compile_match_json_schema(index, cfg, schema) -> MapCheck:
    """Reference: jsonschema.validate UDF
    (column_values_match_json_schema.py:39-60). Ours: pandas UDF over a
    minimal validator."""
    column = cfg.kwargs["column"]
    json_schema = cfg.kwargs["json_schema"]
    if isinstance(json_schema, str):
        json_schema = json.loads(json_schema)

    @F.pandas_udf(BooleanType())
    def _schema_ok(s: pd.Series) -> pd.Series:
        def ok(v):
            if v is None:
                return None
            try:
                return _json_schema_validates(json.loads(v), json_schema)
            except (ValueError, TypeError):
                return False

        return pd.Series([ok(v) for v in s], dtype="boolean")

    cond = ~_schema_ok(F.col(column))
    return _column_map_check(index, cfg, cond, column)


def compile_dateutil_parseable(index, cfg, schema) -> MapCheck:
    """Pandas-only in reference (column_values_dateutil_parseable.py);
    ours: pandas UDF with dateutil."""
    column = cfg.kwargs["column"]
    if column in schema.names and not isinstance(
        schema[column].dataType, StringType
    ):
        raise TypeError(
            "Values passed to expect_column_values_to_be_dateutil_parseable "
            "must be of type string."
        )

    @F.pandas_udf(BooleanType())
    def _parseable(s: pd.Series) -> pd.Series:
        from dateutil.parser import parse

        def ok(v):
            if v is None:
                return None
            try:
                parse(v)
                return True
            except (ValueError, OverflowError, TypeError):
                return False

        return pd.Series([ok(v) for v in s], dtype="boolean")

    cond = ~_parseable(F.col(column))
    return _column_map_check(index, cfg, cond, column)


# --- z-score (deferred: condition depends on fused mean/stddev) -------------

def compile_z_scores_less_than(index, cfg, schema) -> MapCheck:
    """expect_column_value_z_scores_to_be_less_than: z = (x-mean)/std
    (column_values_z_score.py:79-128). The condition is built after
    the fused agg resolves mean/stddev — a second scan, matching the
    reference's dependency order but fused with the violations pass."""
    column = cfg.kwargs["column"]
    threshold = float(cfg.kwargs["threshold"])
    double_sided = bool(cfg.kwargs.get("double_sided", True))
    col = F.col(column)

    def build(stats: Dict[str, Any]) -> Tuple[Column, Column]:
        mean = stats.get(f"column.mean:{column}")
        std = stats.get(f"column.standard_deviation:{column}")
        if mean is None or std is None or std == 0:
            return F.lit(False), json_value(col)
        z = (col - F.lit(float(mean))) / F.lit(float(std))
        if double_sided:
            cond = ~(F.abs(z) < F.lit(abs(threshold)))
        else:
            cond = ~(z < F.lit(threshold))
        return cond, json_value(col)

    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=build,
        consider=lambda: F.col(column).isNotNull(),
        consider_key=f"nonnull:{column}",
        denominator="nonnull",
        mostly=get_mostly(cfg.kwargs),
        deferred=True,
        stat_needs={
            f"column.mean:{column}": F.mean(col),
            f"column.standard_deviation:{column}": F.stddev_samp(col),
        },
        value_decoder=decode_single,
    )


# --- column pair maps --------------------------------------------------------

def _pair_map_check(index, cfg, expected: Column) -> MapCheck:
    col_a, col_b = cfg.kwargs["column_A"], cfg.kwargs["column_B"]
    ignore_row_if = cfg.kwargs.get("ignore_row_if", "both_values_are_missing")
    value = json_pair(F.col(col_a), F.col(col_b))
    return MapCheck(
        index=index,
        config=cfg,
        columns=[col_a, col_b],
        build=lambda stats: (~expected, value),
        consider=lambda: pair_consider(col_a, col_b, ignore_row_if),
        consider_key=f"pair:{col_a}:{col_b}:{ignore_row_if}",
        denominator="filtered",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_pair,
    )


def compile_pair_equal(index, cfg, schema) -> MapCheck:
    """colA <=> colB (column_pair_values_equal.py:40-43)."""
    expected = F.col(cfg.kwargs["column_A"]).eqNullSafe(F.col(cfg.kwargs["column_B"]))
    return _pair_map_check(index, cfg, expected)


def compile_pair_a_greater_than_b(index, cfg, schema) -> MapCheck:
    """colA > colB / >= with or_equal
    (column_pair_values_greater.py:99-132)."""
    a, b = F.col(cfg.kwargs["column_A"]), F.col(cfg.kwargs["column_B"])
    expected = (a >= b) if cfg.kwargs.get("or_equal") else (a > b)
    return _pair_map_check(index, cfg, expected)


def compile_pair_in_set(index, cfg, schema) -> MapCheck:
    """OR-reduce of null-safe pair equality
    (column_pair_values_in_set.py:76-91)."""
    a, b = F.col(cfg.kwargs["column_A"]), F.col(cfg.kwargs["column_B"])
    value_pairs = cfg.kwargs.get("value_pairs_set") or []
    if not value_pairs:
        expected = F.lit(True)
    else:
        expected = reduce(
            lambda x, y: x | y,
            [
                a.eqNullSafe(F.lit(pa)) & b.eqNullSafe(F.lit(pb))
                for pa, pb in value_pairs
            ],
        )
    return _pair_map_check(index, cfg, expected)


# --- multicolumn maps --------------------------------------------------------

def _multi_map_check(index, cfg, expected: Column, default_ignore: str) -> MapCheck:
    cols = list(cfg.kwargs["column_list"])
    ignore_row_if = cfg.kwargs.get("ignore_row_if", default_ignore)
    return MapCheck(
        index=index,
        config=cfg,
        columns=cols,
        build=lambda stats: (~expected, json_multi(cols)),
        consider=lambda: multi_consider(cols, ignore_row_if),
        consider_key=f"multi:{':'.join(cols)}:{ignore_row_if}",
        denominator="filtered",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=make_decode_multi(cols),
    )


def compile_multicolumn_sum_equal(index, cfg, schema) -> MapCheck:
    """COALESCE-sum == total (multicolumn_sum_equal.py:37-44)."""
    cols = list(cfg.kwargs["column_list"])
    total = cfg.kwargs["sum_total"]
    s = reduce(
        lambda a, b: a + b, [F.coalesce(F.col(c), F.lit(0)) for c in cols]
    )
    expected = s == F.lit(total)
    return _multi_map_check(index, cfg, expected, "all_values_are_missing")


def compile_select_unique_within_record(index, cfg, schema) -> MapCheck:
    """No null-safe-equal pair among the selected columns
    (select_column_values_unique_within_record.py:68-83)."""
    cols = list(cfg.kwargs["column_list"])
    conds = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            conds.append(F.col(cols[i]).eqNullSafe(F.col(cols[j])))
    dup = reduce(lambda a, b: a | b, conds)
    return _multi_map_check(index, cfg, ~dup, "all_values_are_missing")


MAP_COMPILERS = {
    "expect_column_values_to_not_be_null": compile_not_be_null,
    "expect_column_values_to_be_null": compile_be_null,
    "expect_column_values_to_be_in_set": compile_be_in_set,
    "expect_column_values_to_not_be_in_set": compile_not_be_in_set,
    "expect_column_values_to_be_between": compile_be_between,
    "expect_column_value_lengths_to_equal": compile_value_lengths_equal,
    "expect_column_value_lengths_to_be_between": compile_value_lengths_between,
    "expect_column_values_to_match_regex": compile_match_regex,
    "expect_column_values_to_not_match_regex": compile_not_match_regex,
    "expect_column_values_to_match_regex_list": compile_match_regex_list,
    "expect_column_values_to_not_match_regex_list": compile_not_match_regex_list,
    "expect_column_values_to_not_contain_pii": compile_not_contain_pii,
    "expect_column_values_to_match_like_pattern": compile_match_like_pattern,
    "expect_column_values_to_not_match_like_pattern": compile_not_match_like_pattern,
    "expect_column_values_to_match_like_pattern_list": compile_match_like_pattern_list,
    "expect_column_values_to_not_match_like_pattern_list": compile_not_match_like_pattern_list,
    "expect_column_values_to_match_strftime_format": compile_match_strftime_format,
    "expect_column_values_to_be_json_parseable": compile_json_parseable,
    "expect_column_values_to_match_json_schema": compile_match_json_schema,
    "expect_column_values_to_be_dateutil_parseable": compile_dateutil_parseable,
    "expect_column_value_z_scores_to_be_less_than": compile_z_scores_less_than,
    "expect_column_pair_values_to_be_equal": compile_pair_equal,
    "expect_column_pair_values_a_to_be_greater_than_b": compile_pair_a_greater_than_b,
    # legacy capitalization used by the reference's fixture corpus
    "expect_column_pair_values_A_to_be_greater_than_B": compile_pair_a_greater_than_b,
    "expect_column_pair_values_to_be_in_set": compile_pair_in_set,
    "expect_multicolumn_sum_to_equal": compile_multicolumn_sum_equal,
    "expect_select_column_values_to_be_unique_within_record": compile_select_unique_within_record,
}
