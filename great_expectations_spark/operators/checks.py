"""Compiled-check model: what the suite planner executes.

The reference resolves a per-expectation metric DAG
(validator/validation_graph.py) against an ExecutionEngine. We compile
the whole suite up front into four check shapes and let the planner
fuse their Spark work:

- SchemaCheck  — driver-only, evaluated from ``df.schema`` (no job).
- MapCheck     — a per-row boolean *unexpected* condition; its
                 considered/unexpected counts AND its bounded
                 violation sample are fused into the suite's ONE
                 per-partition pass (plans/single_pass.py).
                 Deferred conditions (z-score) need merged stats
                 first and run in one extra column-pruned pass.
- AggCheck     — needs named aggregate expressions (fused into the
                 same single pass as mergeable partials; the rest,
                 e.g. countDistinct, into one column-pruned leftover
                 agg) and finalizes driver-side.
- JobCheck     — needs its own Spark job(s) (uniqueness key count,
                 anti-join referential, quantiles, value_counts,
                 monotonicity with partition-boundary exchange, ...).
                 Receives a per-domain MetricCache so identical jobs
                 are shared across checks.

Reference for the metric shapes being replaced:
great_expectations/expectations/metrics/map_metric_provider.py,
column_aggregate_metric_provider.py, and the bundling logic in
execution_engine/sparkdf_execution_engine.py:669-747.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.config import ExpectationConfiguration

# Outcome of finalizing a check: (success, result_dict) — the planner
# wraps it into an ExpectationValidationResult.
Outcome = Tuple[bool, Dict[str, Any]]


@dataclass
class BaseCheck:
    index: int
    config: ExpectationConfiguration


@dataclass
class SchemaCheck(BaseCheck):
    """Driver-side check over df.schema — zero Spark jobs.

    Ref: table.columns / table.column_types metrics
    (expectations/metrics/table_metrics/table_columns.py:49-59).
    """

    evaluate: Callable[[Any], Outcome] = None  # (StructType) -> Outcome


@dataclass
class MapCheck(BaseCheck):
    """Per-row condition check (GE "map metric").

    ``build(stats)`` returns (unexpected_cond, value_expr) where
    unexpected_cond is a boolean Column marking UNexpected rows (nulls
    NOT yet excluded — the planner conjoins ``consider``) and
    value_expr is a JSON-string Column carrying the violating value(s)
    for unexpected lists. ``consider`` is the rows-considered filter:
    column nonnull for column maps
    (map_metric_provider.py:500-515), the ignore_row_if filter for
    pair/multicolumn maps (sparkdf_execution_engine.py:503-563), or
    None (all rows) for null-ness checks.
    """

    columns: List[str] = field(default_factory=list)
    build: Callable[[Dict[str, Any]], Tuple[Column, Column]] = None
    consider: Optional[Callable[[], Column]] = None
    consider_key: str = ""  # dedup key for the considered-count agg
    denominator: str = "nonnull"  # nonnull | total | filtered
    mostly: float = 1.0
    deferred: bool = False  # condition needs fused stats first (z-score)
    stat_needs: Dict[str, Column] = field(default_factory=dict)  # fused-agg deps
    value_decoder: Callable[[Dict[str, Any]], Any] = None  # json dict -> value


@dataclass
class AggCheck(BaseCheck):
    """Aggregate check fused into the single suite-wide df.agg().

    ``needs`` maps stat-key -> aggregate Column; keys are deduped
    across the suite (GE's metric-id dedup, validation_graph.py:92-96,
    done at plan time instead of resolve time).
    """

    needs: Dict[str, Column] = field(default_factory=dict)
    finalize: Callable[[Dict[str, Any]], Outcome] = None


@dataclass
class JobCheck(BaseCheck):
    """Check that runs its own Spark job(s) via the MetricCache.

    ``prefetch``, when set, performs the check's Spark-side work
    against the shared MetricCache WITHOUT needing resolved stats —
    the planner launches prefetches on worker threads concurrently
    with the phase-1 single-pass scan (Spark schedules concurrent
    jobs fairly), so independent jobs overlap instead of running
    serially. ``run`` then finds its metrics memoized.
    """

    needs: Dict[str, Column] = field(default_factory=dict)
    run: Callable[[DataFrame, Dict[str, Any], "MetricCache"], Outcome] = None
    prefetch: Optional[Callable[[DataFrame, "MetricCache"], None]] = None


class MetricCache:
    """Per-domain memo of value-metric Spark jobs, shared across checks.

    Plays the role of the reference's metric cache
    (execution_engine/execution_engine.py:214-218,428-429) for metrics
    that cannot be fused into the single agg pass.
    """

    # hard ceiling on driver-side value collections (distinct_set /
    # value_counts). The reference collects unboundedly
    # (column_distinct_values.py:78-104) — on a high-cardinality
    # column that is millions of rows on the driver; failing loudly
    # with the cardinality in the message beats an opaque driver OOM
    # (same pattern as cramers_phi's max_cells guard,
    # distribution.py:590-603).
    max_collect_values = 1_000_000

    def __init__(self, df: DataFrame):
        self.df = df
        self._memo: Dict[str, Any] = {}
        self._locks: Dict[str, Any] = {}
        self._global_lock = threading.Lock()
        # engine plan choices of this cache's jobs (partial count,
        # shuffle width), copied into result.meta["decisions"]
        self.decisions: List[Dict[str, Any]] = []

    def _bounded_collect(self, df, what: str, col: str):
        rows = df.limit(self.max_collect_values + 1).collect()
        if len(rows) > self.max_collect_values:
            raise ValueError(
                f"{what} of column {col!r} exceeds "
                f"max_collect_values={self.max_collect_values} distinct "
                "values; this check is meant for categorical columns — "
                "use expect_column_unique_value_count_to_be_between "
                "(exact countDistinct, no collect) or raise "
                "MetricCache.max_collect_values explicitly"
            )
        return rows

    def _get(self, key: str, fn: Callable[[], Any]) -> Any:
        # per-key locking: concurrent prefetch threads computing
        # DIFFERENT metrics proceed in parallel; two threads asking
        # for the SAME key compute it once
        with self._global_lock:
            if key in self._memo:
                return self._memo[key]
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            with self._global_lock:
                if key in self._memo:
                    return self._memo[key]
            value = fn()
            with self._global_lock:
                self._memo[key] = value
            return value

    def head(self, n_rows: int = 5, fetch_all: bool = False):
        """table.head — first rows as a list of dicts (reference
        table_head.py:143-157: df.head(n) / collect() for fetch_all).
        fetch_all is bounded by max_collect_values like the other
        driver-side collections (the reference collects unboundedly).
        """
        key = f"head:{n_rows}:{fetch_all}"

        def compute():
            if fetch_all:
                rows = self._bounded_collect(
                    self.df, "table head (fetch_all)", "*"
                )
            else:
                rows = self.df.head(n_rows)
            return [r.asDict() for r in rows]

        return self._get(key, compute)

    def quantiles(self, col: str, qs: List[float], rel_err: float = 0.0) -> List[float]:
        """approxQuantile; rel_err=0 → exact (ref column_quantile_values.py:177-209)."""
        key = f"quantiles:{col}:{json.dumps(qs)}:{rel_err}"
        return self._get(
            key, lambda: self.df.approxQuantile(col, list(qs), rel_err)
        )

    def median(self, col: str) -> Optional[float]:
        """Exact median via the reference's ε trick
        (column_median.py:90-121): query quantiles [0.5, 0.5+ε] with
        rel_err=0 and average the two middle elements for even counts.
        """
        def compute():
            n = self.df.where(F.col(col).isNotNull()).count()
            if n == 0:
                return None
            eps = 1.0 / (2.0 + 2.0 * n)
            vals = self.df.approxQuantile(col, [0.5, 0.5 + eps], 0.0)
            if n % 2 == 0:
                return float((vals[0] + vals[1]) / 2.0)
            return float(vals[0])

        return self._get(f"median:{col}", compute)

    def value_counts(self, col: str) -> List[Tuple[Any, int]]:
        """Nonnull value counts ordered by value
        (ref column_value_counts.py:144-176)."""
        def compute():
            rows = self._bounded_collect(
                self.df.select(col)
                .where(F.col(col).isNotNull())
                .groupBy(col)
                .count()
                .orderBy(col),
                "value_counts",
                col,
            )
            return [(r[0], r[1]) for r in rows]

        return self._get(f"value_counts:{col}", compute)

    def distinct_set(self, col: str) -> set:
        """Distinct nonnull values (ref column_distinct_values.py:78-104)."""
        def compute():
            rows = self._bounded_collect(
                self.df.select(col)
                .where(F.col(col).isNotNull())
                .distinct(),
                "distinct value set",
                col,
            )
            return {r[0] for r in rows}

        return self._get(f"distinct:{col}", compute)

    def histogram(self, col: str, bins: List[float]) -> List[int]:
        """Bin counts, left-closed with the last bin right-closed —
        exact reference bin-edge semantics
        (column_histogram.py:229-303) — computed as a single fused
        when-chain agg instead of Bucketizer + groupBy."""
        key = f"histogram:{col}:{json.dumps(bins)}"

        def compute():
            c = F.col(col)
            exprs = []
            for i in range(len(bins) - 1):
                lo, hi = bins[i], bins[i - 1 + 2]
                if i == len(bins) - 2:
                    cond = (c >= F.lit(lo)) & (c <= F.lit(hi))
                else:
                    cond = (c >= F.lit(lo)) & (c < F.lit(hi))
                exprs.append(
                    F.sum(F.when(cond, 1).otherwise(0)).alias(f"b{i}")
                )
            row = self.df.agg(*exprs).first()
            return [row[i] or 0 for i in range(len(bins) - 1)]

        return self._get(key, compute)

    def between_count(
        self, col: str, lo: Optional[float], hi: Optional[float],
        min_strict: bool = False, max_strict: bool = True,
    ) -> int:
        """Count of nonnull values in a range
        (ref column_values_between_count.py:199-255; used for KL tail
        buckets)."""
        key = f"between:{col}:{lo}:{hi}:{min_strict}:{max_strict}"

        def compute():
            c = F.col(col)
            cond = c.isNotNull()
            if lo is not None:
                cond = cond & ((c > lo) if min_strict else (c >= lo))
            if hi is not None:
                cond = cond & ((c < hi) if max_strict else (c <= hi))
            return self.df.where(cond).count()

        return self._get(key, compute)
