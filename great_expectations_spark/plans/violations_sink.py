"""Distributed violation export: every violating row to a table, no
driver collect.

At 10^12 rows, COMPLETE result_format's driver-side unexpected_list
is impossible (the reference collects ALL violations to the driver,
map_metric_provider.py:2589-2601; this engine caps it at
complete_cap). When the full violation set is the deliverable — e.g.
routing bad images out of a training pipeline — this module streams
it to a parquet/Iceberg sink instead: ONE scan evaluating every map
condition, exploding only the violating (check, row) pairs, written
directly by the executors.

Output schema:
    check_index int, expectation_type string, column string,
    value string (JSON transport), <optional passthrough id columns>
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import ExpectationSuite
from .planner import SparkValidator, split_checks


def violations_frame(
    df: DataFrame,
    suite: ExpectationSuite,
    id_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Lazy DataFrame of every (check, violating row) pair for the
    suite's map checks — write it wherever you like. Non-map checks
    (aggregates, uniqueness, referential) don't emit per-row
    violations here; uniqueness violations are obtainable exactly
    from the uniqueness key count, referential ones from the anti-join.

    The suite compiles as in validate: ``$PARAMETER`` kwargs bind to
    the suite's evaluation parameters, and each check sees only the
    rows of its row_condition domain. A config or condition that
    fails to compile raises. Deferred checks (z-score) need resolved
    stats for their condition: those come from one eager,
    column-pruned agg over each domain that has one."""
    exc_entries, domains = SparkValidator(df, suite)._compile(df.schema)
    if exc_entries:
        raise exc_entries[0][2]
    entries: Dict[int, Any] = {}
    meta: Dict[int, Any] = {}
    for dom in domains:
        if dom.error is not None:
            raise dom.error[0]
        _, map_checks, _, _ = split_checks(dom.checks)
        stats: Dict[str, Any] = {}
        needs = {
            k: e for c in map_checks if c.deferred
            for k, e in c.stat_needs.items()
        }
        if needs:
            keys = list(needs)
            ddf = df.filter(dom.cond) if dom.cond is not None else df
            row = ddf.agg(
                *[needs[k].alias(f"s{i}") for i, k in enumerate(keys)]
            ).first()
            stats = {k: row[f"s{i}"] for i, k in enumerate(keys)}
        for chk in map_checks:
            cond, value = chk.build(stats)
            full = (
                (chk.consider() & cond) if chk.consider is not None else cond
            )
            if dom.cond is not None:
                full = dom.cond & full
            entries[chk.index] = F.when(
                full,
                F.struct(
                    F.lit(chk.index).cast("int").alias("check_index"),
                    value.alias("value"),
                ),
            )
            meta[chk.index] = chk.config
    if not entries:
        raise ValueError("suite has no exportable map conditions")

    id_cols = [F.col(c) for c in (id_columns or [])]
    exploded = df.select(
        *id_cols,
        F.explode(
            F.filter(
                F.array(*[entries[i] for i in sorted(entries)]),
                lambda x: x.isNotNull(),
            )
        ).alias("__v"),
    ).select(
        *[F.col(c) for c in (id_columns or [])],
        F.col("__v.check_index").alias("check_index"),
        F.col("__v.value").alias("value"),
    )

    # attach expectation metadata via a tiny broadcast lookup
    spark = df.sparkSession
    lookup = spark.createDataFrame(
        [
            (
                i,
                cfg.expectation_type,
                str(cfg.kwargs.get("column", "")),
            )
            for i, cfg in meta.items()
        ],
        "check_index int, expectation_type string, column string",
    )
    return exploded.join(F.broadcast(lookup), "check_index", "left")


def write_violations(
    df: DataFrame,
    suite: ExpectationSuite,
    path: str,
    id_columns: Optional[List[str]] = None,
    mode: str = "overwrite",
    partition_by_check: bool = True,
) -> None:
    """Materialize the full violation set to parquet. Partitioning by
    check index keeps per-check consumers (quarantine jobs, retraining
    filters) to a single partition scan."""
    frame = violations_frame(df, suite, id_columns=id_columns)
    writer = frame.write.mode(mode)
    if partition_by_check:
        writer = writer.partitionBy("check_index")
    writer.parquet(path)
