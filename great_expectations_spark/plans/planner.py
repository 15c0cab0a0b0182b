"""Suite → fused-pass compiler and executor (the engine core).

Where the reference resolves a metric DAG iteratively with one-or-more
Spark actions per metric (validator/validation_graph.py:177-319,
sparkdf_execution_engine.py:669-747), we compile the whole suite into a
fixed small number of Spark jobs:

  phase 0  schema checks               driver-only, 0 jobs
  phase 1  ONE per-partition agg job  (plans/single_pass.py) row
                                       count, per-column nonnull /
                                       considered counts, min/max/mean/
                                       stddev/sum partials, the
                                       unexpected-count of every
                                       non-deferred map condition AND
                                       its bounded violation sample —
                                       payloads decode once; memory is
                                       O(K × checks × partitions), never
                                       O(rows), unlike the reference's
                                       full collects
                                       (map_metric_provider.py:2589-2601)
                                       + a column-pruned leftover agg
                                       for non-mergeable stats
  phase 1b deferred job                only if a condition needs merged
                                       stats first (z-score): ONE more
                                       per-partition job returning the
                                       deferred counts and samples,
                                       column-pruned to their columns
                                       (_run_deferred; shared with the
                                       checkpoint runner's finalize)
  phase 3  job checks                  uniqueness (two-phase hash agg),
                                       referential anti-joins, value
                                       metrics (quantiles/value_counts/
                                       histograms) — deduped via a
                                       shared MetricCache
  driver   mostly / bounds / drift math → EVRs → suite result

``strategy="classic"`` is kept only as the equivalence oracle the
tests compare against: phase 1 becomes one plain fused ``df.agg`` and
the non-deferred samples come from a separate phase-2 harvest scan
(two-level bounded collect), so payloads decode twice.

Catalyst handles predicate pushdown + column pruning from the fused
expression set; the stats pass never references unneeded columns (at
scale: never reads the image `bytes` column unless a payload check is
in the suite).
"""

from __future__ import annotations

import json
import time
import traceback
from collections import defaultdict
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import (
    ExpectationConfiguration,
    ExpectationSuite,
    parse_result_format,
    result_format_at_least,
)
from ..core.evaluation_parameters import build_evaluation_parameters
from ..core.result import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    exception_result,
    format_map_output,
    mostly_success,
)
from ..operators.checks import (
    AggCheck,
    JobCheck,
    MapCheck,
    MetricCache,
    SchemaCheck,
)
from ..functions.row_conditions import domain_condition
from ..operators.registry import get_compiler
from .single_pass import (
    merge_stat_rows,
    plan_stat_partials,
    run_single_pass,
    violation_collect_expr,
)


def _considered_stat_key(consider_key: str) -> str:
    """Stat key for a rows-considered count; nonnull counts share the
    bare key so AggChecks/JobChecks reuse the same fused column."""
    if consider_key.startswith("nonnull:"):
        return consider_key
    return f"considered:{consider_key}"


def split_checks(checks: List[Any]):
    """Partition compiled checks into the four execution shapes."""
    return (
        [c for c in checks if isinstance(c, SchemaCheck)],
        [c for c in checks if isinstance(c, MapCheck)],
        [c for c in checks if isinstance(c, AggCheck)],
        [c for c in checks if isinstance(c, JobCheck)],
    )


def collect_agg_exprs(
    map_checks: List[MapCheck],
    agg_checks: List[AggCheck],
    job_checks: List[JobCheck],
) -> Dict[str, Any]:
    """The suite-wide fused stat-expression set, deduped by stat key
    (GE's metric-id dedup, validation_graph.py:92-96, done at plan
    time). Shared by the in-process validator and the checkpoint
    runner (checkpoint/runner.py), which persists the per-partition
    partials of exactly these expressions as its metrics table."""
    agg_exprs: Dict[str, Any] = {}
    if map_checks or agg_checks or job_checks:
        agg_exprs["table.row_count"] = F.count(F.lit(1))
    for chk in map_checks:
        if chk.consider is not None:
            key = _considered_stat_key(chk.consider_key)
            agg_exprs.setdefault(
                key, F.sum(F.when(chk.consider(), 1).otherwise(0))
            )
        for k, e in chk.stat_needs.items():
            agg_exprs.setdefault(k, e)
        if not chk.deferred:
            cond, _ = chk.build({})
            full = (
                (chk.consider() & cond) if chk.consider is not None else cond
            )
            agg_exprs[f"unexpected:{chk.index}"] = F.sum(
                F.when(full, 1).otherwise(0)
            )
    for chk in agg_checks + job_checks:
        for k, e in chk.needs.items():
            agg_exprs.setdefault(k, e)
    return agg_exprs


def _concat_samples(
    rows: List[Any], map_checks: List[MapCheck], caps: Dict[int, int]
) -> Dict[int, List[Any]]:
    """Each check's violation sample from single-pass rows: partition
    slices concatenated in ascending pid order (deterministic), capped
    and decoded. Checks without a cap (BOOLEAN_ONLY) get []."""
    rows_sorted = sorted(rows, key=lambda r: r["__pid"])
    out: Dict[int, List[Any]] = {}
    for chk in map_checks:
        cap = caps.get(chk.index)
        if cap is None:
            out[chk.index] = []
            continue
        merged: List[Any] = []
        for r in rows_sorted:
            merged.extend(r[f"v{chk.index}"] or [])
            if len(merged) >= cap:
                break
        out[chk.index] = [
            chk.value_decoder(json.loads(s)) for s in merged[:cap]
        ]
    return out


class DomainPlan:
    """Precompiled per-domain execution plan: the fused stat-expression
    set, its partial/merge split, and the bounded violation collectors.
    Building these is pure driver-side py4j work (~0.5 s for a wide
    suite) that is identical for every batch of the same schema, so it
    is separated from execution and cached by CompiledSuite."""

    __slots__ = (
        "agg_exprs",
        "use_single",
        "partials",
        "merges",
        "leftover",
        "violation_exprs",
        "caps",
    )

    def __init__(self, agg_exprs, use_single, partials, merges, leftover,
                 violation_exprs, caps):
        self.agg_exprs = agg_exprs
        self.use_single = use_single
        self.partials = partials
        self.merges = merges
        self.leftover = leftover
        self.violation_exprs = violation_exprs
        self.caps = caps


class _Domain:
    """One row_condition domain: its filter (or the error raised while
    parsing it), its compiled checks, and (when precompiled) its plan."""

    __slots__ = ("rc", "parser", "checks", "cond", "error", "plan")

    def __init__(self, rc, parser, checks):
        self.rc = rc
        self.parser = parser
        self.checks = checks
        self.cond = None
        self.error = None  # (exc, traceback_str) from cond/plan build
        self.plan: Optional[DomainPlan] = None


class SparkValidator:
    """Validate one DataFrame batch against an ExpectationSuite."""

    def __init__(
        self,
        df: Optional[DataFrame],
        suite: ExpectationSuite,
        aux_tables: Optional[Dict[str, DataFrame]] = None,
        result_format: Any = "BASIC",
        complete_cap: int = 100_000,
        catch_exceptions: bool = True,
        strategy: str = "auto",
        evaluation_parameters: Optional[Dict[str, Any]] = None,
        schema: Any = None,
        _compiled: "Optional[CompiledSuite]" = None,
    ):
        self.df = df
        self.schema = schema if schema is not None else (
            df.schema if df is not None else None
        )
        self._compiled = _compiled
        self.suite = suite
        self.aux_tables = aux_tables or {}
        # runtime parameters take priority over the suite's stored
        # ones (ref validator.py:1727-1751 load order)
        self.evaluation_parameters = dict(
            getattr(suite, "evaluation_parameters", None) or {}
        )
        self.evaluation_parameters.update(evaluation_parameters or {})
        self.result_format = parse_result_format(result_format)
        self.complete_cap = complete_cap
        self.catch_exceptions = catch_exceptions
        if strategy not in ("auto", "single_pass", "classic"):
            raise ValueError(f"unknown strategy {strategy!r}")
        self.strategy = strategy
        self.phase_times: Dict[str, float] = {}

    def _clock(self, phase: str, fn):
        """Record wall time of one engine phase into phase_times
        (exposed in suite-result meta for plan diagnostics)."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.phase_times[phase] = round(
                self.phase_times.get(phase, 0.0) + time.perf_counter() - t0, 3
            )

    # -- public ---------------------------------------------------------------

    def validate(self) -> ExpectationSuiteValidationResult:
        t0 = time.perf_counter()
        evrs: Dict[int, ExpectationValidationResult] = {}

        if self._compiled is not None:
            exc_entries = self._compiled.exc_entries
            domains = self._compiled.domains
        else:
            exc_entries, domains = self._clock(
                "compile", lambda: self._compile(self.schema)
            )

        for i, cfg, exc, tb in exc_entries:
            if not self.catch_exceptions:
                if self._compiled is not None:
                    # the stored instance is shared by every batch of
                    # this CompiledSuite — re-raising it would mutate
                    # its __traceback__ cumulatively across batches;
                    # raise a fresh wrapper chained to the original
                    raise RuntimeError(
                        f"expectation {i} "
                        f"({cfg.expectation_type}) failed to compile: "
                        f"{exc!r}"
                    ) from exc
                raise exc
            evrs[i] = exception_result(cfg, exc, tb)

        for dom in domains:
            if dom.error is not None:
                # an unparseable condition (bad SQL, bad DSL) yields
                # exception EVRs for its domain's checks, not an
                # aborted validate; the stored instance is never
                # re-raised (it is shared across batches when
                # precompiled — raising would grow its __traceback__
                # per batch)
                exc, tb = dom.error
                if not self.catch_exceptions:
                    if self._compiled is not None:
                        raise RuntimeError(
                            f"row_condition {dom.rc!r} failed to "
                            f"compile: {exc!r}"
                        ) from exc
                    raise exc
                for chk in dom.checks:
                    if chk.index not in evrs:
                        evrs[chk.index] = exception_result(chk.config, exc, tb)
                continue
            try:
                df = (
                    self.df.filter(dom.cond)
                    if dom.cond is not None
                    else self.df
                )
                self._validate_domain(df, dom.checks, evrs, plan=dom.plan)
            except Exception as exc:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                tb = traceback.format_exc()
                for chk in dom.checks:
                    if chk.index not in evrs:
                        evrs[chk.index] = exception_result(chk.config, exc, tb)

        ordered = [evrs[i] for i in sorted(evrs)]
        return ExpectationSuiteValidationResult.from_results(
            ordered,
            meta={
                "validation_time_s": round(time.perf_counter() - t0, 3),
                "phase_times": dict(self.phase_times),
                "expectation_suite_name": self.suite.name,
                "engine": "great_expectations_spark",
            },
        )

    # -- internals --------------------------------------------------------------

    def _rf_for(self, chk) -> dict:
        rf = chk.config.kwargs.get("result_format")
        return parse_result_format(rf) if rf is not None else self.result_format

    def _cap_for(self, chk, rf: dict) -> int:
        if result_format_at_least(rf, "COMPLETE"):
            return self.complete_cap
        return max(rf["partial_unexpected_count"], 1)

    def _compile(self, schema):
        """Compile the suite's configs into checks and group them by
        row_condition domain. Returns (exc_entries, domains) where
        exc_entries is [(index, cfg, exc, traceback_str)] for configs
        that failed to compile, and domains is a list of _Domain with
        the filter Column prebuilt (or its parse error recorded).
        Pure driver-side work — no Spark job."""
        exc_entries: List[Any] = []
        compiled: List[Any] = []

        # compile (binding {"$PARAMETER": ...} kwargs first)
        for i, cfg in enumerate(self.suite.expectations):
            try:
                if any(
                    isinstance(v, dict) and "$PARAMETER" in v
                    for v in cfg.kwargs.values()
                ):
                    bound, _ = build_evaluation_parameters(
                        cfg.kwargs, self.evaluation_parameters
                    )
                    cfg = ExpectationConfiguration(
                        expectation_type=cfg.expectation_type,
                        kwargs=bound,
                        meta=dict(cfg.meta),
                    )
                compiled.append(get_compiler(cfg.expectation_type)(i, cfg, schema))
            except Exception as exc:  # noqa: BLE001 - catch_exceptions semantics
                exc_entries.append((i, cfg, exc, traceback.format_exc()))

        # group by row_condition domain (ref sparkdf_execution_engine.py:438-502);
        # the domain key includes the declared parser — the same string
        # can be Spark SQL under one parser and GE DSL under another
        grouped: Dict[Any, List[Any]] = defaultdict(list)
        for chk in compiled:
            rc = chk.config.kwargs.get("row_condition") or ""
            parser = chk.config.kwargs.get("condition_parser") or "spark"
            grouped[(rc, parser)].append(chk)

        domains: List[_Domain] = []
        for (rc, parser), checks in grouped.items():
            dom = _Domain(rc, parser, checks)
            if rc:
                try:
                    dom.cond = domain_condition(rc, parser)
                except Exception as exc:  # noqa: BLE001
                    dom.error = (exc, traceback.format_exc())
            domains.append(dom)
        return exc_entries, domains

    def _plan_domain(
        self, spark, map_checks, agg_checks, job_checks
    ) -> DomainPlan:
        """Build one domain's DomainPlan: the fused stat expressions,
        their partial/merge split for the single-pass executor, and the
        bounded violation collectors. Schema- and option-dependent
        only — reusable across every batch with the same schema."""
        agg_exprs = collect_agg_exprs(map_checks, agg_checks, job_checks)

        # strategy: "auto" is always the single pass — the fused stats
        # AND the bounded violation samples in ONE per-partition agg
        # job (payloads decode once). Deferred conditions (z-score)
        # contribute their stat needs (mergeable mean/stddev partials)
        # here and run in phase 1b (_run_deferred) against the merged
        # stats. "classic" survives only as the tests' oracle.
        use_single = self.strategy != "classic"

        partials = merges = leftover = None
        violation_exprs: List[Any] = []
        caps: Dict[int, int] = {}
        if use_single and agg_exprs:
            partials, merges, leftover = plan_stat_partials(agg_exprs)
            for chk in map_checks:
                if chk.deferred:
                    continue
                rf = self._rf_for(chk)
                if rf["result_format"] == "BOOLEAN_ONLY":
                    continue
                caps[chk.index] = self._cap_for(chk, rf)
                cond, value = chk.build({})
                full = (
                    (chk.consider() & cond)
                    if chk.consider is not None
                    else cond
                )
                violation_exprs.append(
                    violation_collect_expr(
                        spark, full, value, caps[chk.index], f"v{chk.index}"
                    )
                )
        return DomainPlan(
            agg_exprs, use_single, partials, merges, leftover,
            violation_exprs, caps,
        )

    def _validate_domain(
        self, df: DataFrame, checks: List[Any], evrs, plan: Optional[DomainPlan] = None
    ) -> None:
        schema_checks, map_checks, agg_checks, job_checks = split_checks(
            checks
        )

        # phase 0: schema checks — no Spark job
        for chk in schema_checks:
            try:
                success, result = chk.evaluate(df.schema)
                evrs[chk.index] = ExpectationValidationResult(
                    success=success, expectation_config=chk.config, result=result
                )
            except Exception as exc:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[chk.index] = exception_result(
                    chk.config, exc, traceback.format_exc()
                )

        # phase 1: the fused stat-expression set — precompiled when a
        # CompiledSuite supplied the plan, else built now
        if plan is None:
            plan = self._clock(
                "compile",
                lambda: self._plan_domain(
                    df.sparkSession, map_checks, agg_checks, job_checks
                ),
            )
        agg_exprs = plan.agg_exprs
        use_single = plan.use_single

        # shared metric cache, created BEFORE phase 1 so JobCheck
        # prefetches can overlap the single-pass scan: Spark schedules
        # concurrently-submitted jobs across the same executors, so
        # independent work (two-phase uniqueness, leftover aggs) hides
        # behind the payload scan instead of serializing after it
        cache = MetricCache(df)
        cache.result_format = self.result_format
        cache.complete_cap = self.complete_cap
        cache.aux_tables = self.aux_tables
        prefetch_threads: List[Any] = []
        import threading as _threading

        for chk in job_checks:
            if chk.prefetch is None:
                continue

            def _bg(chk=chk):
                try:
                    chk.prefetch(df, cache)
                except Exception:  # noqa: BLE001 - run() re-raises
                    pass

            t = _threading.Thread(target=_bg, daemon=True)
            t.start()
            prefetch_threads.append(t)

        stats: Dict[str, Any] = {}
        unexpected_lists: Optional[Dict[int, List[Any]]] = None
        n_parts: Optional[int] = None
        if use_single and agg_exprs:
            stats, unexpected_lists, n_parts = self._clock(
                "single_pass",
                lambda: self._run_single_pass(df, plan, map_checks),
            )
        elif agg_exprs:
            keys = list(agg_exprs)
            row = self._clock(
                "fused_agg",
                lambda: df.agg(
                    *[agg_exprs[k].alias(f"s{i}") for i, k in enumerate(keys)]
                ).first(),
            )
            stats = {k: row[f"s{i}"] for i, k in enumerate(keys)}
            # sums over empty frames come back NULL — normalize to 0
            for k, v in stats.items():
                if v is None and (
                    k.startswith(("nonnull:", "considered:", "unexpected:"))
                ):
                    stats[k] = 0

        # phase 1b: deferred map conditions (need merged stats first)
        deferred = [c for c in map_checks if c.deferred]
        deferred_lists: Dict[int, List[Any]] = {}
        if deferred:
            deferred_lists = self._clock(
                "deferred",
                lambda: self._run_deferred(df, deferred, stats, n_parts),
            )

        # phase 2 (classic only): violations harvest — the single-pass
        # job already produced the non-deferred samples
        if unexpected_lists is None:
            unexpected_lists = {} if use_single else self._clock(
                "harvest",
                lambda: self._harvest_violations(
                    df, [c for c in map_checks if not c.deferred], stats
                ),
            )
        unexpected_lists.update(deferred_lists)

        # map-check EVRs
        for chk in map_checks:
            try:
                evrs[chk.index] = self._finalize_map_check(
                    df, chk, stats, unexpected_lists.get(chk.index)
                )
            except Exception as exc:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[chk.index] = exception_result(
                    chk.config, exc, traceback.format_exc()
                )

        # agg-check EVRs
        for chk in agg_checks:
            try:
                success, result = chk.finalize(stats)
                evrs[chk.index] = ExpectationValidationResult(
                    success=success, expectation_config=chk.config, result=result
                )
            except Exception as exc:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[chk.index] = exception_result(
                    chk.config, exc, traceback.format_exc()
                )

        # phase 3: job checks (prefetched Spark work is memoized in
        # the cache; join the background threads first)
        for t in prefetch_threads:
            t.join()
        for chk in job_checks:
            try:
                success, result = self._clock(
                    f"job:{chk.config.expectation_type}",
                    lambda chk=chk: chk.run(df, stats, cache),
                )
                evrs[chk.index] = ExpectationValidationResult(
                    success=success, expectation_config=chk.config, result=result
                )
            except Exception as exc:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[chk.index] = exception_result(
                    chk.config, exc, traceback.format_exc()
                )

    def _run_single_pass(
        self, df: DataFrame, plan: DomainPlan, map_checks: List[MapCheck]
    ):
        """ONE per-partition agg job for stats + violation samples.

        See plans/single_pass.py. Non-mergeable stats (countDistinct)
        run in a leftover df.agg — Catalyst column-prunes it, so it
        stays a cheap scalar scan that never reads payload columns.
        All expressions come precompiled from the DomainPlan. Returns
        (stats, violation samples, partition count); the count is
        reused by the deferred job.
        """
        partials, merges, leftover = plan.partials, plan.merges, plan.leftover
        caps, violation_exprs = plan.caps, plan.violation_exprs

        # the leftover agg depends only on df — submit it on a worker
        # thread so it runs concurrently with the single-pass job
        leftover_holder: Dict[str, Any] = {}
        leftover_thread = None
        if leftover:
            keys = list(leftover)
            import threading as _threading

            def _leftover():
                try:
                    leftover_holder["row"] = df.agg(
                        *[
                            leftover[k].alias(f"s{i}")
                            for i, k in enumerate(keys)
                        ]
                    ).first()
                except Exception as exc:  # noqa: BLE001
                    leftover_holder["error"] = exc

            leftover_thread = _threading.Thread(
                target=_leftover, daemon=True
            )
            leftover_thread.start()

        n_parts = df.rdd.getNumPartitions()
        rows = run_single_pass(
            df,
            partials,
            violation_exprs,
            merges=merges,
            viol_caps={f"v{i}": cap for i, cap in caps.items()},
            n_parts=n_parts,
        )
        stats = merge_stat_rows(rows, merges)

        if leftover_thread is not None:
            self._clock("leftover_join", leftover_thread.join)
            if "error" in leftover_holder:
                raise leftover_holder["error"]
            row = leftover_holder["row"]
            for i, k in enumerate(keys):
                stats[k] = row[f"s{i}"]

        return stats, _concat_samples(rows, map_checks, caps), n_parts

    def _run_deferred(
        self,
        df: DataFrame,
        deferred: List[MapCheck],
        stats: Dict[str, Any],
        n_parts: Optional[int] = None,
    ) -> Dict[int, List[Any]]:
        """Phase 1b: ONE per-partition job for every deferred (z-score)
        condition, built against the already-merged ``stats``. Writes
        each check's unexpected count into ``stats`` and returns its
        bounded violation sample. Catalyst column-prunes the job to the
        conditions' columns, so it never decodes payloads. Used by
        every strategy and by the checkpoint runner's finalize;
        ``n_parts`` reuses the main pass's partition count."""
        if not deferred or not stats.get("table.row_count", 0):
            for chk in deferred:
                stats[f"unexpected:{chk.index}"] = 0
            return {chk.index: [] for chk in deferred}
        spark = df.sparkSession
        counts: Dict[str, Any] = {}
        violation_exprs: List[Any] = []
        caps: Dict[int, int] = {}
        for chk in deferred:
            cond, value = chk.build(stats)
            full = (chk.consider() & cond) if chk.consider is not None else cond
            counts[f"unexpected:{chk.index}"] = F.sum(
                F.when(full, 1).otherwise(0)
            )
            rf = self._rf_for(chk)
            if rf["result_format"] == "BOOLEAN_ONLY":
                continue
            caps[chk.index] = self._cap_for(chk, rf)
            violation_exprs.append(
                violation_collect_expr(
                    spark, full, value, caps[chk.index], f"v{chk.index}"
                )
            )
        partials, merges, _ = plan_stat_partials(counts)
        rows = run_single_pass(
            df,
            partials,
            violation_exprs,
            merges=merges,
            viol_caps={f"v{i}": cap for i, cap in caps.items()},
            n_parts=n_parts,
        )
        stats.update(merge_stat_rows(rows, merges))
        return _concat_samples(rows, deferred, caps)

    def _harvest_violations(
        self, df: DataFrame, map_checks: List[MapCheck], stats: Dict[str, Any]
    ) -> Dict[int, List[Any]]:
        """One scan collecting bounded per-check violation values.

        Builds array<struct<c:int,v:string>> of per-check violating
        JSON values, explodes the non-null entries, then bounds memory
        with a two-level slice(collect_list): per (spark partition,
        check) first, then per check. Replaces the reference's
        per-metric filter+collect jobs
        (map_metric_provider.py:2555-2601) with a single pass.
        """
        wanted: List[MapCheck] = []
        caps: Dict[int, int] = {}
        for chk in map_checks:
            rf = self._rf_for(chk)
            if rf["result_format"] == "BOOLEAN_ONLY":
                continue
            if stats.get(f"unexpected:{chk.index}", 0) == 0:
                continue
            wanted.append(chk)
            caps[chk.index] = self._cap_for(chk, rf)
        if not wanted:
            return {chk.index: [] for chk in map_checks}

        k_max = max(caps.values())
        entries = []
        for chk in wanted:
            cond, value = chk.build(stats)
            full = (chk.consider() & cond) if chk.consider is not None else cond
            entries.append(
                F.when(
                    full,
                    F.struct(
                        F.lit(chk.index).cast("int").alias("c"), value.alias("v")
                    ),
                )
            )
        arr = F.array(*entries)
        exploded = df.select(
            F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("e")
        ).select(
            F.col("e.c").alias("c"),
            F.col("e.v").alias("v"),
            F.spark_partition_id().alias("p"),
        )
        lvl1 = exploded.groupBy("p", "c").agg(
            F.slice(F.collect_list("v"), 1, k_max).alias("vs")
        )
        rows = (
            lvl1.groupBy("c")
            .agg(F.slice(F.flatten(F.collect_list("vs")), 1, k_max).alias("vs"))
            .collect()
        )
        by_index = {r["c"]: r["vs"] for r in rows}
        out: Dict[int, List[Any]] = {}
        for chk in map_checks:
            raw = by_index.get(chk.index, [])
            cap = caps.get(chk.index, 0)
            decoded = [
                chk.value_decoder(json.loads(s)) for s in raw[:cap]
            ]
            out[chk.index] = decoded
        return out

    def _finalize_map_check(
        self,
        df: DataFrame,
        chk: MapCheck,
        stats: Dict[str, Any],
        unexpected_list: Optional[List[Any]],
    ) -> ExpectationValidationResult:
        rf = self._rf_for(chk)
        element_count = stats.get("table.row_count", 0)
        unexpected_count = stats.get(f"unexpected:{chk.index}", 0)

        if chk.denominator == "total":
            # not_be_null / be_null semantics
            # (expect_column_values_to_not_be_null.py:299-334)
            nonnull_for_output = None
            denom = element_count
        else:
            key = _considered_stat_key(chk.consider_key)
            denom = stats.get(key, 0)
            nonnull_for_output = denom

        if element_count == 0 or denom == 0:
            success = True  # vacuous truth (expectation.py:2613-2615)
        else:
            success = mostly_success(denom, unexpected_count, chk.mostly)

        unexpected_rows = None
        if rf.get("include_unexpected_rows"):
            cond, _ = chk.build(stats)
            full = (chk.consider() & cond) if chk.consider is not None else cond
            collected = df.filter(full).limit(rf["partial_unexpected_count"]).collect()
            unexpected_rows = [r.asDict() for r in collected]

        out = format_map_output(
            result_format=rf,
            success=success,
            element_count=element_count,
            nonnull_count=nonnull_for_output,
            unexpected_count=unexpected_count,
            unexpected_list=(
                unexpected_list
                if rf["result_format"] != "BOOLEAN_ONLY"
                else None
            ),
            unexpected_rows=unexpected_rows,
        )
        return ExpectationValidationResult(
            success=out["success"],
            expectation_config=chk.config,
            result=out.get("result", {}),
        )


class CompiledSuite:
    """A suite compiled ONCE against a fixed schema, validating many
    batches.

    Expression construction is driver-side py4j traffic — ~0.45 s for
    a wide suite (64 fused stats + bounded collectors), measured — and
    it is byte-identical for every batch of the same schema. The
    reference re-resolves its metric graph per validate
    (validator.py:1834-1902); a per-batch caller on Spark (streaming
    foreachBatch, checkpoint group grids, steady-state monitoring)
    should pay it once:

        compiled = ges.compile_suite(suite, df.schema, spark)
        for batch in batches:
            result = compiled.validate(batch)

    Evaluation parameters are bound at compile time ($PARAMETER kwargs
    become literal expression constants); passing different
    ``evaluation_parameters`` to ``validate`` transparently recompiles
    — memoized on the parameter values, so a per-batch caller whose
    upstream thresholds change occasionally (the URN cross-suite
    gating pattern) pays the recompile only when they actually change.
    Batches must share the compiled schema — ``validate`` raises on
    mismatch rather than returning silently-wrong column resolutions.
    """

    def __init__(
        self,
        suite: ExpectationSuite,
        schema: Any,
        spark: Any,
        aux_tables: Optional[Dict[str, DataFrame]] = None,
        result_format: Any = "BASIC",
        complete_cap: int = 100_000,
        catch_exceptions: bool = True,
        strategy: str = "auto",
        evaluation_parameters: Optional[Dict[str, Any]] = None,
    ):
        self.suite = suite
        self.schema = schema
        self._spark = spark
        # memoized rebinds for per-batch evaluation parameters, keyed
        # by the canonical param payload (bounded, FIFO eviction)
        self._rebound: Dict[str, "CompiledSuite"] = {}
        # the EFFECTIVE compiled parameters: suite-stored ones with
        # the compile-call overrides on top (same merge order as the
        # one-shot validator) — the fast-path comparison target
        self._effective_params = dict(
            getattr(suite, "evaluation_parameters", None) or {}
        )
        self._effective_params.update(evaluation_parameters or {})
        self._opts = dict(
            aux_tables=aux_tables,
            result_format=result_format,
            complete_cap=complete_cap,
            catch_exceptions=catch_exceptions,
            strategy=strategy,
            evaluation_parameters=evaluation_parameters,
        )
        tmpl = SparkValidator(None, suite, schema=schema, **self._opts)
        self.exc_entries, self.domains = tmpl._compile(schema)
        for dom in self.domains:
            if dom.error is not None:
                continue
            try:
                _, map_c, agg_c, job_c = split_checks(dom.checks)
                dom.plan = tmpl._plan_domain(spark, map_c, agg_c, job_c)
            except Exception as exc:  # noqa: BLE001 - surfaced as EVRs per batch
                dom.error = (exc, traceback.format_exc())

    def validate(
        self,
        df: DataFrame,
        evaluation_parameters: Optional[Dict[str, Any]] = None,
    ) -> ExpectationSuiteValidationResult:
        # guard on names AND types: compilers type-specialize against
        # the compiled schema (e.g. between-bounds parse to datetime
        # literals for temporal columns), so a same-names/different-
        # types batch would silently run a stale specialized plan.
        # Nullability/metadata differences are benign and ignored.
        sig = lambda sch: [(f.name, f.dataType) for f in sch.fields]  # noqa: E731
        if sig(df.schema) != sig(self.schema):
            raise ValueError(
                "CompiledSuite was compiled for schema "
                f"{sig(self.schema)} but the batch has "
                f"{sig(df.schema)}; recompile with "
                "compile_suite(suite, df.schema, spark)"
            )
        if evaluation_parameters is not None:
            # fast-path comparison against the EFFECTIVE compiled
            # params (suite-stored ∪ compile overrides) — passing the
            # values already compiled in must not recompile
            target = dict(
                getattr(self.suite, "evaluation_parameters", None) or {}
            )
            target.update(evaluation_parameters)
            if target != self._effective_params:
                # parameters are literal constants inside the compiled
                # expressions — different values need a recompile,
                # memoized per value-set (bounded) so both stable and
                # alternating threshold sets stay on the fast path
                key = json.dumps(
                    evaluation_parameters, sort_keys=True, default=str
                )
                cached = self._rebound.get(key)
                if cached is None:
                    if len(self._rebound) >= 16:
                        self._rebound.pop(next(iter(self._rebound)))
                    opts = dict(self._opts)
                    opts["evaluation_parameters"] = dict(
                        evaluation_parameters
                    )
                    cached = CompiledSuite(
                        self.suite, self.schema, self._spark, **opts
                    )
                    self._rebound[key] = cached
                return cached.validate(df)
        return SparkValidator(
            df, self.suite, _compiled=self, **self._opts
        ).validate()


def compile_suite(
    suite: ExpectationSuite,
    schema: Any,
    spark: Any,
    **kwargs: Any,
) -> CompiledSuite:
    """Compile ``suite`` once for reuse across batches of ``schema``."""
    return CompiledSuite(suite, schema, spark, **kwargs)


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    aux_tables: Optional[Dict[str, DataFrame]] = None,
    result_format: Any = "BASIC",
    **kwargs: Any,
) -> ExpectationSuiteValidationResult:
    """One-call suite validation."""
    return SparkValidator(
        df, suite, aux_tables=aux_tables, result_format=result_format, **kwargs
    ).validate()
