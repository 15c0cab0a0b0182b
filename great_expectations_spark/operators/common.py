"""Shared helpers for expectation compilers."""

from __future__ import annotations

import json
import re
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

JSON_OPTS = {"ignoreNullFields": "false"}


def json_value(col: Column) -> Column:
    """Serialize a single column value to a JSON transport string."""
    return F.to_json(F.struct(col.alias("v")), JSON_OPTS)


def decode_single(d: Dict[str, Any]) -> Any:
    return d.get("v")


def json_pair(col_a: Column, col_b: Column) -> Column:
    return F.to_json(F.struct(col_a.alias("a"), col_b.alias("b")), JSON_OPTS)


def decode_pair(d: Dict[str, Any]) -> List[Any]:
    return [d.get("a"), d.get("b")]


def json_multi(cols: List[str]) -> Column:
    return F.to_json(F.struct(*[F.col(c).alias(c) for c in cols]), JSON_OPTS)


def make_decode_multi(cols: List[str]) -> Callable[[Dict[str, Any]], Dict[str, Any]]:
    def decode(d: Dict[str, Any]) -> Dict[str, Any]:
        return {c: d.get(c) for c in cols}

    return decode


def get_mostly(kwargs: dict) -> float:
    m = kwargs.get("mostly", 1.0)
    if m is None:
        m = 1.0
    assert isinstance(m, (int, float)) and 0 <= m <= 1, (
        "'mostly' parameter must be between 0 and 1"
    )
    return float(m)


def shuffle_width(df) -> Tuple[Optional[int], Optional[int]]:
    """(input partitions, width) for an engine shuffle of `df` sized
    to its input: the width is the input's partition count when that
    is below spark.sql.shuffle.partitions. Spark's file-split planner
    already sizes scan partitions to about max(defaultParallelism,
    bytes / maxPartitionBytes), so the width follows the input's
    bytes with no new setting.

    The width is None when the input has at least that many
    partitions, or when its plan holds an exchange (input partitions
    are then None too): counting an adaptive input's partitions would
    run that exchange as a job, and an explicit width is one that
    adaptive execution never coalesces. The caller then keeps Spark's
    own exchange at the session default.

    The count plans `df` once and is cached on it (DataFrame.rdd), so
    validating the same frame again pays nothing; a new frame pays
    one planning of its input."""
    default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return None, None
    n = df.rdd.getNumPartitions()
    return n, (max(1, n) if n < default else None)


def between_kwargs(cfg) -> dict:
    """The *_to_be_between bounds of `cfg` as keyword arguments of
    validate_metric_value_between."""
    return {
        "min_value": cfg.kwargs.get("min_value"),
        "max_value": cfg.kwargs.get("max_value"),
        "strict_min": bool(cfg.kwargs.get("strict_min", False)),
        "strict_max": bool(cfg.kwargs.get("strict_max", False)),
    }


# ignore_row_if → rows-considered filter.
# Pair semantics: sparkdf_execution_engine.py:503-540; multicolumn: :542-563.
def pair_consider(col_a: str, col_b: str, ignore_row_if: str) -> Column:
    a, b = F.col(col_a), F.col(col_b)
    if ignore_row_if == "both_values_are_missing":
        return ~(a.isNull() & b.isNull())
    if ignore_row_if == "either_value_is_missing":
        return a.isNotNull() & b.isNotNull()
    if ignore_row_if in ("neither", "never"):
        return F.lit(True)
    raise ValueError(f"Unrecognized ignore_row_if: {ignore_row_if}")


def multi_consider(cols: List[str], ignore_row_if: str) -> Column:
    null_flags = [F.col(c).isNull() for c in cols]
    all_null = null_flags[0]
    any_null = null_flags[0]
    for f in null_flags[1:]:
        all_null = all_null & f
        any_null = any_null | f
    if ignore_row_if == "all_values_are_missing":
        return ~all_null
    if ignore_row_if == "any_value_is_missing":
        return ~any_null
    if ignore_row_if == "never":
        return F.lit(True)
    raise ValueError(f"Unrecognized ignore_row_if: {ignore_row_if}")


# strftime → Java DateTimeFormatter pattern translation (for
# expect_column_values_to_match_strftime_format: the reference uses a
# per-row Python UDF with datetime.strptime,
# column_values_match_strftime_format.py:33-58; we translate to a
# JVM-side try_to_timestamp where possible).
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%a": "EEE",
    "%A": "EEEE",
    "%b": "MMM",
    "%B": "MMMM",
    "%p": "a",
    "%z": "xx",
    "%%": "'%'",
}

_JAVA_ESCAPE_RE = re.compile(r"[a-zA-Z]+")


def strftime_to_java(fmt: str) -> Optional[str]:
    """Translate a strftime pattern to a Java DateTimeFormatter pattern.

    Returns None when a directive has no JVM equivalent (caller falls
    back to an Arrow-batched pandas UDF).
    """
    out: List[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            directive = fmt[i : i + 2]
            if directive not in _STRFTIME_MAP:
                return None
            out.append(_STRFTIME_MAP[directive])
            i += 2
        else:
            # literal text must be quoted if alphabetic
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            literal = fmt[i:j]
            if _JAVA_ESCAPE_RE.search(literal):
                out.append("'" + literal.replace("'", "''") + "'")
            else:
                out.append(literal)
            i = j
    return "".join(out)


def parse_json_transport(s: str) -> Dict[str, Any]:
    return json.loads(s)
