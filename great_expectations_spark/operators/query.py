"""Query expectations: arbitrary Spark SQL against the batch.

The reference exposes this as the QueryExpectation base class +
query.* metrics (expectations/expectation.py:2250-2352,
metrics/query_metrics/query_table.py:67-91: register the batch as a
temp view, format the template with {active_batch}, run the SQL;
query_template_values.py:96-110: additionally format with the
user-supplied template_dict). The reference ships the machinery but
no concrete core expectation; these cover the common uses — and
because the query is plain Spark SQL, the full surface (joins, CTEs,
window functions) is available. Every expectation here accepts the
reference's `template_dict` kwarg: `{placeholder}` tokens in the
query other than {active_batch}/{batch} are filled from it, exactly
like QueryTemplateValues._spark.
"""

from __future__ import annotations

import uuid
from typing import Any, Dict, Optional

from pyspark.sql import functions as F

from ..core.result import validate_metric_value_between
from .checks import JobCheck, MetricCache
from .common import between_kwargs


def _run_query(df, query: str, template_dict: Optional[dict] = None):
    if template_dict is not None and not isinstance(template_dict, dict):
        # reference query_template_values.py:103-104 raises the same
        raise TypeError(
            "template_dict supplied by the expectation must be a dict"
        )
    reserved = {"active_batch", "batch"} & set(template_dict or {})
    if reserved:
        # a user-supplied {active_batch}/{batch} would silently point
        # the query at something other than the validated batch view;
        # without this guard format(**d, active_batch=...) raises an
        # opaque "got multiple values for keyword argument" TypeError
        raise ValueError(
            f"template_dict keys {sorted(reserved)} are reserved: "
            "{active_batch}/{batch} always bind to the validated "
            "batch's temp view"
        )
    view = f"ges_batch_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    try:
        try:
            sql = query.format(
                **(template_dict or {}), active_batch=view, batch=view
            )
        except KeyError as exc:
            raise ValueError(
                f"query template references {{{exc.args[0]}}} but "
                "template_dict does not provide it"
            ) from exc
        return df.sparkSession.sql(sql)
    finally:
        df.sparkSession.catalog.dropTempView(view)


def compile_query_row_count_between(index, cfg, schema) -> JobCheck:
    """expect_query_row_count_to_be_between: the row count of
    `query` (templated with {active_batch}) within bounds."""
    query = cfg.kwargs["query"]
    template_dict = cfg.kwargs.get("template_dict")
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        n = _run_query(df, query, template_dict).count()
        out = validate_metric_value_between(n, **kw)
        return out["success"], out["result"]

    return JobCheck(index=index, config=cfg, run=run)


def compile_query_single_value_between(index, cfg, schema) -> JobCheck:
    """expect_query_single_value_to_be_between: first row / first
    column of the query result within bounds."""
    query = cfg.kwargs["query"]
    template_dict = cfg.kwargs.get("template_dict")
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        row = _run_query(df, query, template_dict).first()
        value = row[0] if row is not None else None
        out = validate_metric_value_between(value, **kw)
        return out["success"], out["result"]

    return JobCheck(index=index, config=cfg, run=run)


def compile_query_to_return_no_rows(index, cfg, schema) -> JobCheck:
    """expect_query_to_return_no_rows: violation-hunting SQL — the
    query SELECTs the bad rows; success iff none exist. A bounded
    sample of offending rows is reported."""
    query = cfg.kwargs["query"]
    template_dict = cfg.kwargs.get("template_dict")
    sample_limit = int(cfg.kwargs.get("sample_limit", 20))

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        res = _run_query(df, query, template_dict)
        rows = res.limit(sample_limit + 1).collect()
        count_exact = (
            len(rows) if len(rows) <= sample_limit else res.count()
        )
        return len(rows) == 0, {
            "observed_value": count_exact,
            "details": {
                "unexpected_rows": [
                    r.asDict() for r in rows[:sample_limit]
                ]
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


def compile_query_template_values_between(index, cfg, schema) -> JobCheck:
    """expect_query_template_values_to_be_between: the generic
    QueryExpectation surface (reference expectation.py:2250-2352 +
    query_metrics/query_template_values.py). The user supplies an
    arbitrary SQL template over {active_batch} plus {placeholder}
    tokens filled from `template_dict`; the templated query runs and
    EVERY row's first column must fall within [min_value, max_value].
    This is the landing spot for reference suites built on custom
    QueryExpectations (frequency thresholds, per-group invariants,
    ...): the template + bounds express the contrib pattern of
    "run my SQL, assert the metric column" without writing Python.
    Rows are capped at `result_limit` (default 200, one collect) so a
    malformed template cannot pull an unbounded result to the
    driver."""
    query = cfg.kwargs["query"]
    template_dict = cfg.kwargs.get("template_dict")
    result_limit = int(cfg.kwargs.get("result_limit", 200))
    kw = between_kwargs(cfg)

    def run(df, stats: Dict[str, Any], cache: MetricCache):
        res = _run_query(df, query, template_dict)
        rows = res.limit(result_limit + 1).collect()
        truncated = len(rows) > result_limit
        rows = rows[:result_limit]
        values = [r[0] for r in rows]
        checks = [validate_metric_value_between(v, **kw) for v in values]
        success = bool(checks) and all(c["success"] for c in checks)
        bad = [
            v for v, c in zip(values, checks) if not c["success"]
        ][:20]
        return success, {
            "observed_value": values[0] if len(values) == 1 else values,
            "details": {
                "row_count": len(rows),
                "unexpected_values": bad,
                "truncated_at_limit": truncated,
            },
        }

    return JobCheck(index=index, config=cfg, run=run)


QUERY_COMPILERS = {
    "expect_query_row_count_to_be_between": compile_query_row_count_between,
    "expect_query_single_value_to_be_between": compile_query_single_value_between,
    "expect_query_to_return_no_rows": compile_query_to_return_no_rows,
    "expect_query_template_values_to_be_between": (
        compile_query_template_values_between
    ),
}
