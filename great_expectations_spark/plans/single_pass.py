"""Single-pass per-partition suite execution.

The classic plan (plans/planner.py) runs phase 1 (fused df.agg) and
phase 2 (violations harvest) as two separate scans. For payload-heavy
tables that means decoding every image twice. This module compiles the
same work into ONE Spark job:

    df.groupBy(spark_partition_id()).agg(
        <partial stats: counts / sums / mins / maxs / (n, mean, M2)>,
        <per-check bounded violation slices:
             slice(collect_list(when(cond, value)), 1, K)>,
    )

followed by a driver-side merge of the per-partition partials (Chan's
parallel variance merge for stddev; above SECOND_LEVEL_FAN_IN
partitions, an executor-side second-level merge first, so the driver
receives O(fan_in) rows regardless of partition count).

Violation memory: two tiers. With the ges-spark-udaf jar on the
session classpath (tools/jvm — a 100-line typed Aggregator, built by
tools/jvm/build.sh and shipped via spark.jars), the sample aggregates
in a TRUE O(K) buffer that stops accumulating at the cap
(violation_collect_expr). Without it, the fallback
slice(collect_list(when(cond, value))) bounds what each partition
EMITS (K values) but its buffer grows to O(violating values in the
partition) before the slice applies — capped by the split size (a
128 MB split cannot buffer more than ~3x 128 MB of JSON-encoded
values, per check), survivable but not O(K). Both paths produce
byte-identical samples (tests/test_jvm_udaf.py); a Python UDAF was
never an option (it would drag every row through Arrow).

Aggregates that cannot be merged from partition partials
(countDistinct) go to a LEFTOVER df.agg job — which Catalyst
column-prunes, so it never touches payload columns and costs a cheap
scalar scan.

This is the literal realization of the target architecture: "all
per-column stats run as a single fused multi-aggregate pass per
partition ... and violation rows are emitted with the same
per-partition pass/fail result schema" — and it is also how the run
resumes from a checkpoint: the per-partition rows this pass produces
ARE the lineage/metrics table (see checkpoint/).

Stat-key contract (planner-internal names):
    table.row_count                 count          merge: sum
    nonnull:<c> / considered:<k>    sum(when)      merge: sum
    unexpected:<i>                  sum(when)      merge: sum
    column.min:<c> / column.max:<c> min/max        merge: min/max
    column.mean:<c>                 sum+count      merge: weighted
    column.sum:<c>                  sum            merge: sum
    column.standard_deviation:<c>   n, mean, M2    merge: Chan
    column.distinct_values.count~hll<rsd>:<c>
                                    HLL sketch     merge: union
    column.quantiles~kll<k>:<c>:<qs-json>
                                    KLL sketch     merge: union
    anything else                   -> leftover df.agg job
"""

from __future__ import annotations

import base64
import math
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class _Merge:
    """How to turn per-partition partial values into the final stat."""

    def __init__(self, kind: str, aliases: List[str]):
        self.kind = kind
        self.aliases = aliases


def _col_of(key: str) -> str:
    return key.split(":", 1)[1]


def _lgk_for_rsd(rsd: float) -> int:
    """lgConfigK giving a Datasketches-HLL relative standard error of
    about the requested rsd (rse ~ 1.04 / sqrt(2^lgK) — the same
    constant HLL++ quotes for approx_count_distinct)."""
    return max(4, min(21, math.ceil(2 * math.log2(1.04 / rsd))))


def _hll_estimate(sketches: List[bytes]) -> int:
    """Union + estimate collected partition sketches as one tiny local
    Spark job (len(sketches) rows — at most the second-level fan-in),
    so the driver needs no datasketches Python dependency."""
    if not sketches:
        return 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession for HLL merge")
    row = (
        spark.createDataFrame([(s,) for s in sketches], "s binary")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("e"))
        .first()
    )
    return int(row["e"] or 0)


def _parse_kll_key(key: str) -> Tuple[int, str, List[float]]:
    """``column.quantiles~kll{k}:{column}:{json-qs}`` -> (k, col, qs).
    The quantile list rides in the key so dedup across checks (same
    column, same qs, same k -> one sketch) falls out of the existing
    stat-key dedup."""
    rest = key[len("column.quantiles~kll"):]
    kstr, colname, qs_json = rest.split(":", 2)
    import json as _json

    return int(kstr), colname, [float(q) for q in _json.loads(qs_json)]


def _kll_quantiles(
    sketches: List[bytes], qs: List[float]
) -> Optional[List[float]]:
    """Merge collected partition KLL sketches and extract quantiles as
    one tiny local Spark job (len(sketches) rows — at most the
    second-level fan-in); None when every partition's sketch is empty
    (all-null column)."""
    if not sketches:
        return None
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession for KLL merge")
    merged = F.kll_merge_agg_double("s")
    row = (
        spark.createDataFrame([(s,) for s in sketches], "s binary")
        .agg(
            F.when(
                F.kll_sketch_get_n_double(merged) > 0,
                F.kll_sketch_get_quantile_double(
                    merged, F.array(*[F.lit(q) for q in qs])
                ),
            ).alias("q")
        )
        .first()
    )
    return None if row["q"] is None else [float(v) for v in row["q"]]


def _unbox_bytes(v: Any) -> Optional[bytes]:
    """Undo checkpoint/runner._jsonable's base64 boxing; in-process
    rows carry raw bytes already."""
    if isinstance(v, dict) and "__b64__" in v:
        return base64.b64decode(v["__b64__"])
    return None if v is None else bytes(v)


def plan_stat_partials(
    stat_keys: Dict[str, Column],
) -> Tuple[Dict[str, Column], Dict[str, _Merge], Dict[str, Column]]:
    """Split stat needs into per-partition partial expressions plus
    merge recipes, and leftover (non-mergeable) exprs."""
    partials: Dict[str, Column] = {}
    merges: Dict[str, _Merge] = {}
    leftover: Dict[str, Column] = {}
    i = 0

    def add(expr: Column) -> str:
        nonlocal i
        alias = f"p{i}"
        i += 1
        partials[alias] = expr
        return alias

    for key, expr in stat_keys.items():
        if key == "table.row_count":
            merges[key] = _Merge("sum0", [add(F.count(F.lit(1)))])
        elif key.startswith(("nonnull:", "considered:", "unexpected:")):
            # already a sum(when(...)) — partial sums merge by addition
            merges[key] = _Merge("sum0", [add(expr)])
        elif key.startswith("column.min:"):
            merges[key] = _Merge("min", [add(expr)])
        elif key.startswith("column.max:"):
            merges[key] = _Merge("max", [add(expr)])
        elif key.startswith("column.sum:"):
            merges[key] = _Merge("sum", [add(expr)])
        elif key.startswith("column.mean:"):
            c = F.col(_col_of(key))
            merges[key] = _Merge(
                "mean",
                [
                    add(F.sum(c)),
                    add(F.sum(F.when(c.isNotNull(), 1).otherwise(0))),
                ],
            )
        elif key.startswith("column.distinct_values.count~hll"):
            # mergeable approximate distinct: one fixed-size
            # Datasketches HLL sketch (binary) per partition,
            # union-merged at every level — second-level buckets, the
            # driver, and across incremental checkpoint runs — so the
            # stat needs NO extra scan (exact countDistinct and
            # approx_count_distinct are leftover full-scan aggregates
            # here). The classic strategy keeps approx_count_distinct
            # (HLL++); both are exact at small cardinality and agree
            # within rsd elsewhere. Only emitted for the types
            # hll_sketch_agg supports (library_agg._distinct_count_need
            # gates on the schema).
            rsd = float(
                key[len("column.distinct_values.count~hll"):].split(
                    ":", 1
                )[0]
            )
            merges[key] = _Merge(
                "hll",
                [
                    add(
                        F.hll_sketch_agg(
                            F.col(_col_of(key)), _lgk_for_rsd(rsd)
                        )
                    )
                ],
            )
        elif key.startswith("column.quantiles~kll"):
            # mergeable approximate quantiles: one fixed-size
            # Datasketches KLL sketch (binary, ~3 KB at k=200) per
            # partition, merged at every level like the HLL path —
            # so approximate=True quantile/median expectations ride
            # the fused pass (exact approxQuantile is a separate
            # full-scan job) and merge across incremental checkpoint
            # runs. Only emitted for numeric columns
            # (library_agg._kll_quantiles_need gates on the schema).
            kk, colname, _qs = _parse_kll_key(key)
            merges[key] = _Merge(
                "kll",
                [
                    add(
                        F.kll_sketch_agg_double(
                            F.col(colname).cast("double"), F.lit(kk)
                        )
                    )
                ],
            )
        elif key.startswith("column.standard_deviation:"):
            c = F.col(_col_of(key))
            n = F.sum(F.when(c.isNotNull(), 1).otherwise(0))
            merges[key] = _Merge(
                "stddev",
                [
                    add(n),
                    add(F.avg(c)),
                    # M2 = var_samp * (n-1); 0 for single-element parts
                    add(
                        F.coalesce(
                            F.var_samp(c) * (n - F.lit(1)), F.lit(0.0)
                        )
                    ),
                ],
            )
        else:
            leftover[key] = expr
    return partials, merges, leftover


def merge_stat_rows(
    rows: List[Any], merges: Dict[str, _Merge]
) -> Dict[str, Any]:
    """Driver-side merge of the collected per-partition partials."""
    stats: Dict[str, Any] = {}
    for key, m in merges.items():
        vals = [[r[a] for a in m.aliases] for r in rows]
        if m.kind == "sum0":
            stats[key] = sum(v[0] or 0 for v in vals)
        elif m.kind == "sum":
            nonnull = [v[0] for v in vals if v[0] is not None]
            stats[key] = sum(nonnull) if nonnull else None
        elif m.kind == "min":
            nonnull = [v[0] for v in vals if v[0] is not None]
            stats[key] = min(nonnull) if nonnull else None
        elif m.kind == "max":
            nonnull = [v[0] for v in vals if v[0] is not None]
            stats[key] = max(nonnull) if nonnull else None
        elif m.kind == "mean":
            s = sum(v[0] for v in vals if v[0] is not None)
            n = sum(v[1] or 0 for v in vals)
            stats[key] = (s / n) if n else None
        elif m.kind == "hll":
            # checkpoint state JSON carries sketches base64-boxed
            # (runner._jsonable); in-process rows carry raw bytes
            sketches = [
                b
                for b in (_unbox_bytes(v[0]) for v in vals)
                if b is not None
            ]
            stats[key] = _hll_estimate(sketches)
        elif m.kind == "kll":
            _kk, _c, qs = _parse_kll_key(key)
            sketches = [
                b
                for b in (_unbox_bytes(v[0]) for v in vals)
                if b is not None
            ]
            stats[key] = _kll_quantiles(sketches, qs)
        elif m.kind == "stddev":
            # Chan et al. pairwise merge of (n, mean, M2) partials —
            # numerically stable across any partition count
            n, mean, m2 = 0, 0.0, 0.0
            for v in vals:
                n_i = v[0] or 0
                if n_i == 0:
                    continue
                mean_i = v[1]
                m2_i = v[2] or 0.0
                delta = mean_i - mean
                n_new = n + n_i
                m2 += m2_i + delta * delta * n * n_i / n_new
                mean = (mean * n + mean_i * n_i) / n_new
                n = n_new
            if n < 2:
                # match F.stddev_samp: NaN for a single value, null for none
                stats[key] = float("nan") if n == 1 else None
            else:
                stats[key] = math.sqrt(m2 / (n - 1))
    return stats


def violation_slice_expr(
    cond: Column, value: Column, cap: int, alias: str
) -> Column:
    """Per-partition violation sample: the collect_list only ever
    holds values for rows matching cond; the slice caps what the
    partition EMITS at K (the in-scan buffer is bounded by the
    partition's violating values, not by K — see module docstring).
    This is the always-available fallback; violation_collect_expr
    upgrades to a true O(K) buffer when the ges-spark-udaf jar is on
    the session classpath."""
    return F.slice(
        F.collect_list(F.when(cond, value)), 1, cap
    ).alias(alias)


# session key -> whether ges.spark.CappedCollect is reachable (the
# reflection probe costs a py4j round-trip; memoize per session).
# Keyed by the SparkContext applicationId, NOT id(spark): a
# garbage-collected session's address can be reused by a new session,
# which would silently inherit a stale False verdict and permanently
# downgrade it to the O(partition-violations) fallback even with the
# jar present. applicationId is unique per JVM-backed context.
_JVM_UDAF_AVAILABLE: Dict[str, bool] = {}


def _session_key(spark) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 - stopped context: don't cache
        return f"__no_context_{id(spark)}"


def _jvm_capped_collect(spark, col: Column, cap: int) -> Optional[Column]:
    """Column invoking ges.spark.CappedCollect (tools/jvm) if the jar
    is reachable in the driver JVM, else None. Two lookup paths: the
    py4j root class loader (jar supplied via spark.jars /
    spark.driver.extraClassPath at launch) and the thread context
    class loader (jar supplied via sparkContext.addJar in local
    mode)."""
    if spark is None:
        return None
    key = _session_key(spark)
    # NEVER memoize under the no-context fallback key: it embeds
    # id(spark), and a recycled address would hand a later session a
    # stale verdict — the exact corruption applicationId keying fixed
    memoize = not key.startswith("__no_context_")
    if _JVM_UDAF_AVAILABLE.get(key) is False:
        return None
    jvm = spark._jvm
    jcol = None
    try:
        jcol = jvm.ges.spark.CappedCollect.cappedCollect(col._jc, cap)
    except Exception:  # noqa: BLE001 - not on the root class loader
        try:
            loader = jvm.Thread.currentThread().getContextClassLoader()
            cls = loader.loadClass("ges.spark.CappedCollect")
            col_cls = jvm.java.lang.Class.forName(
                "org.apache.spark.sql.Column"
            )
            m = cls.getMethod(
                "cappedCollect", col_cls, jvm.java.lang.Integer.TYPE
            )
            jcol = m.invoke(None, col._jc, cap)
        except Exception:  # noqa: BLE001 - jar absent: use fallback
            if memoize:
                _JVM_UDAF_AVAILABLE[key] = False
            return None
    if memoize:
        _JVM_UDAF_AVAILABLE[key] = True
    return Column(jcol)


def violation_collect_expr(
    spark, cond: Column, value: Column, cap: int, alias: str
) -> Column:
    """Violation sample with a true O(K) aggregation buffer when the
    ges-spark-udaf jar (tools/jvm) is on the classpath: the JVM
    aggregator stops ACCUMULATING at cap, closing the
    buffer-grows-with-partition-violations bound of the fallback
    slice(collect_list(...)). Output shape is identical to the
    fallback (array<string> of transport JSON), so every downstream
    consumer — driver concat, second-level merge — is unchanged."""
    jcol = _jvm_capped_collect(spark, F.when(cond, value), cap)
    if jcol is None:
        return violation_slice_expr(cond, value, cap, alias)
    return F.from_json(jcol, "array<string>").alias(alias)


# Max rows the driver receives from the single-pass job. At 10^12
# rows / 128 MB splits an input table has ~10^6 partitions; collecting
# one row per partition (stats + up-to-K violation JSON strings per
# check) would put multiple GB on the driver. Above this fan-in, a
# second-level aggregation merges partition partials on the executors
# first, so driver memory is O(FAN_IN x checks x cap) regardless of
# input partition count.
SECOND_LEVEL_FAN_IN = 1024


def _second_level_exprs(
    merges: Dict[str, "_Merge"],
    viol_caps: Dict[str, int],
) -> List[Column]:
    """Aggregate expressions that merge level-1 partition partials
    into bucket partials OF THE SAME SHAPE, so the driver-side
    merge_stat_rows runs unchanged on the (far fewer) bucket rows.

    Stats merge in closed form — sums/mins/maxs trivially. The
    (n, mean, M2) variance triple is folded with Chan's pairwise
    update over the bucket's partials in ascending-pid order (an
    F.aggregate over a bounded collect_list — a bucket holds at most
    ceil(partitions/fan_in) rows). The textbook one-pass
    recombination M2 = sum(M2_i) + sum(n_i*mean_i^2) - s1^2/N is
    deliberately NOT used: for large-mean/small-spread columns (epoch
    timestamps; mean/sigma >= ~1e8) its two big terms cancel in
    float64 and the merged M2 comes out garbage or negative. The fold
    is numerically identical to the driver-side Chan merge — which is
    the property this two-level path must preserve.

    Violation slices merge as slice(flatten(sort_by_pid(...)), 1, cap):
    the sort keeps the sample deterministic (pid order within bucket,
    buckets are contiguous pid ranges), and each bucket's aggregation
    buffer holds at most (partitions/buckets) already-capped arrays.
    """
    exprs: List[Column] = []
    for m in merges.values():
        if m.kind in ("sum0", "sum"):
            for a in m.aliases:
                exprs.append(F.sum(F.col(a)).alias(a))
        elif m.kind == "min":
            exprs.append(F.min(F.col(m.aliases[0])).alias(m.aliases[0]))
        elif m.kind == "max":
            exprs.append(F.max(F.col(m.aliases[0])).alias(m.aliases[0]))
        elif m.kind == "mean":
            s_a, n_a = m.aliases
            exprs.append(F.sum(F.col(s_a)).alias(s_a))
            exprs.append(F.sum(F.col(n_a)).alias(n_a))
        elif m.kind == "hll":
            # sketch-union is associative: bucket partial = union of
            # the bucket's partition sketches, same binary shape
            exprs.append(
                F.hll_union_agg(F.col(m.aliases[0])).alias(m.aliases[0])
            )
        elif m.kind == "kll":
            exprs.append(
                F.kll_merge_agg_double(F.col(m.aliases[0])).alias(
                    m.aliases[0]
                )
            )
        elif m.kind == "stddev":
            n_a, mean_a, m2_a = m.aliases
            triples = F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__pid").alias("p"),
                        F.col(n_a).cast("double").alias("n"),
                        F.col(mean_a).alias("m"),
                        F.col(m2_a).alias("m2"),
                    )
                )
            )
            init = F.struct(
                F.lit(0.0).alias("n"),
                F.lit(0.0).alias("m"),
                F.lit(0.0).alias("m2"),
            )

            def _chan(acc, v):
                # n_i == 0 partials carry NULL means — skip them, as
                # the driver merge does
                n_new = acc["n"] + v["n"]
                delta = v["m"] - acc["m"]
                return F.when(v["n"] <= 0, acc).otherwise(
                    F.struct(
                        n_new.alias("n"),
                        (
                            (acc["m"] * acc["n"] + v["m"] * v["n"])
                            / n_new
                        ).alias("m"),
                        (
                            acc["m2"]
                            + F.coalesce(v["m2"], F.lit(0.0))
                            + delta * delta * acc["n"] * v["n"] / n_new
                        ).alias("m2"),
                    )
                )

            merged = F.aggregate(triples, init, _chan)
            exprs.append(merged["n"].cast("long").alias(n_a))
            exprs.append(
                F.when(merged["n"] > 0, merged["m"]).alias(mean_a)
            )
            # M2 is a sum of squares: floor at 0 against ulp noise
            exprs.append(
                F.greatest(merged["m2"], F.lit(0.0)).alias(m2_a)
            )
    for alias, cap in viol_caps.items():
        sorted_structs = F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__pid").alias("p"), F.col(alias).alias("a")
                )
            )
        )
        exprs.append(
            F.slice(
                F.flatten(
                    F.transform(sorted_structs, lambda s: s["a"])
                ),
                1,
                cap,
            ).alias(alias)
        )
    return exprs


def run_single_pass(
    df: DataFrame,
    partials: Dict[str, Column],
    violation_exprs: List[Column],
    merges: Optional[Dict[str, "_Merge"]] = None,
    viol_caps: Optional[Dict[str, int]] = None,
    fan_in: Optional[int] = None,
    n_parts: Optional[int] = None,
) -> List[Any]:
    """ONE per-partition partial aggregation over one scan. The
    grouping key is spark_partition_id(), so the partial hash agg
    before the ``hashpartitioning(__pid)`` Exchange already emits ONE
    row per input partition; the shuffle moves only those rows (AQE
    runs it as a map-stage job plus a result stage).

    When the input has more partitions than `fan_in` (and the caller
    supplies the merge recipes), a second-level aggregation re-groups
    the partition rows into `fan_in` CONTIGUOUS pid-range buckets and
    merges the partials executor-side; the driver then receives at
    most `fan_in` rows instead of one per input partition. Bucket ids
    are emitted as `__pid` so downstream pid-ordered concat logic is
    unchanged (contiguous ranges keep ascending-pid sample order).
    """
    exprs = [expr.alias(alias) for alias, expr in partials.items()]
    exprs.extend(violation_exprs)
    if not exprs:
        return []
    if fan_in is None:
        fan_in = SECOND_LEVEL_FAN_IN
    lvl1 = df.groupBy(F.spark_partition_id().alias("__pid")).agg(*exprs)
    if merges is None:
        return lvl1.collect()
    if n_parts is None:
        # df.rdd forces an extra physical-planning/RDD conversion (and
        # is unavailable under Spark Connect) — callers that invoke
        # this repeatedly (checkpointed group grids) compute it once
        # and thread it through; this is the one-shot fallback.
        n_parts = df.rdd.getNumPartitions()
    if n_parts <= fan_in:
        return lvl1.collect()
    bucket_span = -(-n_parts // fan_in)  # ceil
    lvl2_exprs = _second_level_exprs(merges, viol_caps or {})
    return (
        lvl1.groupBy(
            (F.col("__pid") / F.lit(bucket_span))
            .cast("long")
            .alias("__bucket")
        )
        .agg(*lvl2_exprs)
        .withColumnRenamed("__bucket", "__pid")
        .collect()
    )
