"""Operator-parity query library: Spark DataFrame implementation +
ANSI-SQL (DuckDB) oracle for every operator family the engine
implements (SURVEY.md §2), plus the large-scale training-data-pipeline
operators (dedup / similarity / text analysis) over the `documents`
and `embeddings` tables.

Every entry returns columns that are EXACTLY aliased the same in the
Spark query and the oracle SQL, with doubles rounded to a fixed number
of decimals on both sides so order-insensitive value hashing matches.

Scale notes are in each docstring: these run at sf0.01 for the
correctness gate but are written with the 100 TB plan in mind — fused
single-pass aggregations, two-phase hash aggregation instead of
windows, broadcast anti-joins for referential checks, banded LSH
instead of all-pairs joins.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.pii import PII_PATTERNS

Query = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql_or_None)
_REGISTRY: Dict[str, Tuple[Query, Optional[str]]] = {}


def register(name: str, sql: Optional[str]):
    def deco(fn: Query) -> Query:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =============================================================================
# 1. Fused column statistics — the engine's phase-1 single-pass agg
#    (ref: sparkdf_execution_engine.py:669-747 bundling; ours fuses the
#    whole suite). One job, no shuffle beyond the final partial->final.
# =============================================================================


@register(
    "fused_column_stats",
    """
    SELECT
      count(*)                                   AS row_count,
      CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
      round(min(l_quantity), 4)                  AS qty_min,
      round(max(l_quantity), 4)                  AS qty_max,
      round(avg(l_quantity), 4)                  AS qty_mean,
      round(stddev_samp(l_quantity), 4)          AS qty_std,
      round(sum(l_quantity), 2)                  AS qty_sum,
      round(avg(l_extendedprice), 4)             AS price_mean,
      round(stddev_samp(l_extendedprice), 4)     AS price_std,
      count(DISTINCT l_returnflag)               AS flag_distinct,
      count(DISTINCT l_linestatus)               AS status_distinct
    FROM lineitem
    """,
)
def fused_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-column stats for a suite in ONE df.agg pass (engine
    phase 1). At 100 TB this is a single map-side-combined scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "qty_nulls"
        ),
        F.round(F.min("l_quantity"), 4).alias("qty_min"),
        F.round(F.max("l_quantity"), 4).alias("qty_max"),
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_std"),
        F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
        F.round(F.avg("l_extendedprice"), 4).alias("price_mean"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_std"),
        F.countDistinct("l_returnflag").alias("flag_distinct"),
        F.countDistinct("l_linestatus").alias("status_distinct"),
    )


# =============================================================================
# 2. Map-condition expectations: set membership / between / length /
#    regex — unexpected counts fused per group (engine phase 1).
# =============================================================================


@register(
    "set_membership_violations",
    """
    SELECT l_linestatus,
           count(*) AS element_count,
           CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N') THEN 1 ELSE 0 END)
             AS BIGINT) AS unexpected_count
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def set_membership_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_be_in_set condition counts, grouped —
    `col.isin(...)` stays in whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("element_count"),
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N"), 1).otherwise(0)
        ).alias("unexpected_count"),
    )


@register(
    "between_violations",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_totalprice NOT BETWEEN 2000.0 AND 450000.0
    """,
)
def between_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_be_between violation rows — the filter
    pushes down to the parquet scan (PushedFilters)."""
    o = _t(spark, sf_dir, "orders")
    return o.where(
        ~F.col("o_totalprice").between(2000.0, 450000.0)
    ).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    )


@register(
    "value_length_violations",
    """
    SELECT doc_id, length(text) AS text_len
    FROM documents
    WHERE length(text) NOT BETWEEN 60 AND 400
    """,
)
def value_length_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_value_lengths_to_be_between violation rows."""
    d = _t(spark, sf_dir, "documents")
    return d.where(~F.length("text").between(60, 400)).select(
        "doc_id", F.length("text").cast("long").alias("text_len")
    )


@register(
    "regex_violations",
    """
    SELECT event_type,
           count(*) AS element_count,
           CAST(sum(CASE WHEN NOT regexp_matches(props, '^\\{"k": [0-9]+\\}$')
                    THEN 1 ELSE 0 END) AS BIGINT) AS unexpected_count
    FROM events
    GROUP BY event_type
    """,
)
def regex_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_match_regex unexpected counts by group
    (rlike, JVM-side)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("element_count"),
        F.sum(
            F.when(
                ~F.col("props").rlike('^\\{"k": [0-9]+\\}$'), 1
            ).otherwise(0)
        ).alias("unexpected_count"),
    )


# =============================================================================
# 3. Uniqueness — two-phase hash aggregation (NOT the reference's
#    window-over-partitionBy, column_values_unique.py:79-84, which
#    shuffles every row; groupBy pre-aggregates map-side).
# =============================================================================


@register(
    "uniqueness_duplicates",
    """
    SELECT o_custkey, count(*) AS dup_count
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 1
    """,
)
def uniqueness_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_be_unique violation keys via two-phase
    hash agg: partial count per partition, final count, filter > 1."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


@register(
    "compound_uniqueness",
    """
    SELECT
      (SELECT count(*) FROM (
         SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber
         HAVING count(*) > 1)) AS pk_dup_groups,
      (SELECT count(*) FROM (
         SELECT 1 FROM lineitem GROUP BY l_partkey, l_suppkey
         HAVING count(*) > 1)) AS partsupp_dup_groups
    """,
)
def compound_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_compound_columns_to_be_unique summarized: duplicate-group
    counts for two key sets (two-phase agg each)."""
    li = _t(spark, sf_dir, "lineitem")

    def dup_groups(*cols):
        return (
            li.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    a = dup_groups("l_orderkey", "l_linenumber").select(
        F.col("n").alias("pk_dup_groups")
    )
    b = dup_groups("l_partkey", "l_suppkey").select(
        F.col("n").alias("partsupp_dup_groups")
    )
    return a.crossJoin(b)


# =============================================================================
# 4. Referential integrity — broadcast/sort-merge LEFT ANTI join
#    (the reference has no FK expectation; SURVEY.md §2.2 "Joins").
# =============================================================================


@register(
    "referential_violations",
    """
    SELECT
      (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
        AS lineitem_orphans,
      (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
        AS order_orphans
    """,
)
def referential_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_foreign_keys_to_exist: LEFT ANTI joins; the dim side is
    broadcast when small (orders/customer here), sort-merge + AQE skew
    split otherwise."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = (
        li.join(
            F.broadcast(o.select("o_orderkey")),
            li["l_orderkey"] == o["o_orderkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("lineitem_orphans"))
    )
    b = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("order_orphans"))
    )
    return a.crossJoin(b)


# =============================================================================
# 5. Value counts / most common / distinct — GE's value metrics
#    (column_value_counts.py:144-176, column_most_common_value.py).
# =============================================================================


@register(
    "value_counts",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS value_count,
           round(count(*) * 1.0 /
                 (SELECT count(*) FROM lineitem), 6) AS share
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE scan: the total comes from summing the grouped counts via
    a broadcast cross-join of a 1-row frame, not a separate
    li.count() action (which would be a whole extra table scan at
    100 TB) — the same pattern psi_drift uses."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("value_count")
    )
    total = counts.agg(F.sum("value_count").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "l_returnflag",
        "l_linestatus",
        "value_count",
        F.round(F.col("value_count") / F.col("__total"), 6).alias(
            "share"
        ),
    )


@register(
    "most_common_value",
    """
    WITH counts AS (
      SELECT l_quantity AS value, count(*) AS cnt
      FROM lineitem GROUP BY l_quantity
    )
    SELECT value, cnt FROM counts
    WHERE cnt = (SELECT max(cnt) FROM counts)
    """,
)
def most_common_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column.most_common_value with ties preserved (argmax set)."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_quantity").alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mx = counts.agg(F.max("cnt").alias("mx"))
    return counts.join(
        F.broadcast(mx), counts["cnt"] == mx["mx"], "inner"
    ).select("value", "cnt")


# =============================================================================
# 6. Quantiles / histogram — distribution stats
#    (column_quantile_values.py, column_histogram.py; ours uses exact
#    percentile for the oracle and expression bucketing for histograms).
# =============================================================================


@register(
    "quantiles",
    """
    SELECT
      round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25,
      round(quantile_cont(l_extendedprice, 0.50), 4) AS price_p50,
      round(quantile_cont(l_extendedprice, 0.75), 4) AS price_p75
    FROM lineitem
    """,
)
def quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL-standard percentile_cont).
    At scale the engine uses approx_percentile with bounded error; the
    oracle pins the exact variant."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile aggregate builds the value map once for all three
    qs = li.agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
        .alias("q")
    )
    return qs.select(
        *[
            F.round(F.col("q")[i], 4).alias(name)
            for i, name in enumerate(("price_p25", "price_p50", "price_p75"))
        ]
    )


@register(
    "histogram",
    """
    SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9)
             AS bucket,
           count(*) AS bucket_count
    FROM orders
    GROUP BY 1
    """,
)
def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column.histogram as expression bucketing + groupBy (replaces
    the reference's Bucketizer ML transform, column_histogram.py:229)."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint"), F.lit(9)
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("bucket_count")
    )


# =============================================================================
# 7. Z-score outliers — deferred condition needing fused stats first
#    (column_values_z_score.py:79-128).
# =============================================================================


@register(
    "zscore_violations",
    """
    WITH s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sigma
               FROM events)
    SELECT e.event_id
    FROM events e, s
    WHERE abs((e.value - s.mu) / s.sigma) > 2.8
    """,
)
def zscore_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    s = e.agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return (
        e.crossJoin(F.broadcast(s))
        .where(
            # try_divide: a constant column (sigma 0) must yield zero
            # violations (NULL > 2.8 filters out, the oracle's x/0
            # NULL), not an ANSI job abort
            F.abs(
                F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
            )
            > 2.8
        )
        .select("event_id")
    )


# =============================================================================
# 8. Distribution drift: PSI and binned-KS between two segments
#    (engine: operators/distribution.py; GE partition_object semantics,
#    execution_engine/util.py:77-148).
# =============================================================================

_PSI_SQL = """
WITH binned AS (
  SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_cnt,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b_cnt
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
tot AS (SELECT sum(a_cnt) AS a_tot, sum(b_cnt) AS b_tot FROM binned)
SELECT round(sum((a_frac - b_frac) * ln(a_frac / b_frac)), 6) AS psi
FROM (
  SELECT (a_cnt * 1.0 / a_tot) + 1e-6 AS a_frac,
         (b_cnt * 1.0 / b_tot) + 1e-6 AS b_frac
  FROM binned, tot
)
"""


@register("psi_drift", _PSI_SQL)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index between two segments over fixed bins
    with epsilon smoothing — one binned groupBy, driver-free math."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    bucket = F.least(
        F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)
    )
    binned = e.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a_cnt"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("b_cnt"),
    )
    tot = binned.agg(
        F.sum("a_cnt").alias("a_tot"), F.sum("b_cnt").alias("b_tot")
    )
    # try_divide: an EMPTY cohort (no rows of one event_type) must
    # yield a NULL psi — the oracle's x/0 — not abort the monitor
    fracs = binned.crossJoin(F.broadcast(tot)).select(
        (F.try_divide("a_cnt", "a_tot") + 1e-6).alias("a_frac"),
        (F.try_divide("b_cnt", "b_tot") + 1e-6).alias("b_frac"),
    )
    return fracs.agg(
        F.round(
            F.sum(
                (F.col("a_frac") - F.col("b_frac"))
                * F.log(F.col("a_frac") / F.col("b_frac"))
            ),
            6,
        ).alias("psi")
    )


_KS_SQL = """
WITH binned AS (
  SELECT CAST(floor(value / 5.0) AS BIGINT) AS bucket,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_cnt,
         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS b_cnt
  FROM events
  WHERE event_type IN ('click', 'signup')
  GROUP BY 1
),
tot AS (SELECT sum(a_cnt) AS a_tot, sum(b_cnt) AS b_tot FROM binned),
cdf AS (
  SELECT sum(a_cnt) OVER (ORDER BY bucket) * 1.0 / a_tot AS a_cdf,
         sum(b_cnt) OVER (ORDER BY bucket) * 1.0 / b_tot AS b_cdf
  FROM binned, tot
)
SELECT round(max(abs(a_cdf - b_cdf)), 6) AS ks_stat FROM cdf
"""


@register("ks_statistic", _KS_SQL)
def ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS statistic: sup |CDF_a - CDF_b|. The
    cumulative window runs over ~100 buckets (tiny), never over rows."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "signup")
    )
    bucket = F.floor(F.col("value") / 5.0).cast("bigint")
    binned = e.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a_cnt"
        ),
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("b_cnt"),
    )
    tot = binned.agg(
        F.sum("a_cnt").alias("a_tot"), F.sum("b_cnt").alias("b_tot")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = (
        binned.crossJoin(F.broadcast(tot))
        .select(
            # try_divide: empty-cohort robustness, same as psi_drift
            F.try_divide(F.sum("a_cnt").over(w), F.col("a_tot")).alias(
                "a_cdf"
            ),
            F.try_divide(F.sum("b_cnt").over(w), F.col("b_tot")).alias(
                "b_cdf"
            ),
        )
    )
    return cdf.agg(
        F.round(F.max(F.abs(F.col("a_cdf") - F.col("b_cdf"))), 6).alias(
            "ks_stat"
        )
    )


# =============================================================================
# 9. Training-data-pipeline operators over `documents` / `embeddings`
#    — deduplication, similarity search, text analysis. These are the
#    engine's additions beyond the reference (per the build brief).
# =============================================================================


@register(
    "dedup_exact_stats",
    """
    SELECT
      count(*) AS total_docs,
      count(DISTINCT md5(text)) AS distinct_texts,
      count(DISTINCT md5(lower(text))) AS distinct_norm,
      count(*) - count(DISTINCT md5(lower(text))) AS exact_dups
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: at 100 TB, dedup on md5(content)
    shuffles 16-byte keys, never the document bodies."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        F.countDistinct(F.md5(F.lower(F.col("text")))).alias(
            "distinct_norm"
        ),
        (
            F.count(F.lit(1))
            - F.countDistinct(F.md5(F.lower(F.col("text"))))
        ).alias("exact_dups"),
    )


# --- MinHash + LSH ----------------------------------------------------------
# 8 md5-keyed minhashes over word 3-gram shingles, banded 4x2. The
# band signature is the LSH bucket key: near-duplicate candidates are
# pairs sharing any band. Shingling + hashing stay entirely inside
# array expressions (no explode, no shuffle until the band join).

_N_MINHASH = 8
_BANDS = 4


def _spark_shingles_col():
    # Empty for docs under 3 tokens — the DuckDB twin's range(n-2)
    # yields [] there, but Spark's sequence(0, n-3) would DESCEND
    # into negative indices and slice(words, 0, ...) throws
    # (INVALID_PARAMETER_VALUE.START, found by the oracle fuzz gate
    # on 1- and 2-token docs).
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # NULL text stays NULL (not []): every caller filters on token
    # count >= 3 first, so a NULL row must keep looking like the
    # DuckDB twin's WHERE-filtered row, not an empty-shingle doc
    return F.when(
        n >= F.lit(3),
        F.transform(
            F.sequence(F.lit(0), n - F.lit(3)),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, F.lit(3))),
        ),
    ).when(
        words.isNotNull(), F.expr("CAST(array() AS ARRAY<STRING>)")
    )


_MINHASH_DUCK_SIGS = """
    SELECT doc_id,
           {bands}
    FROM (
      SELECT doc_id,
             {minhashes}
      FROM (
        SELECT doc_id,
               list_transform(
                 range(len(string_split(text, ' ')) - 2),
                 i -> array_to_string(
                        (string_split(text, ' '))[i + 1 : i + 3], ' ')
               ) AS shingles
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      )
    )
""".format(
    minhashes=",\n             ".join(
        f"list_min(list_transform(list_transform(shingles, s -> md5(s)), "
        f"h -> substr(h, {4 * j + 1}, 4))) AS mh{j}"
        for j in range(_N_MINHASH)
    ),
    bands=",\n           ".join(
        f"substr(md5(mh{2*b} || mh{2*b+1}), 1, 12) AS band{b}"
        for b in range(_BANDS)
    ),
)


@register("dedup_minhash_signatures", _MINHASH_DUCK_SIGS)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LSH band signatures (MinHash 8, bands 4x2).

    Shape: explode shingles to rows, md5 each ONCE, take the 8
    per-document minima of the digest's disjoint 4-hex windows with a
    two-phase hash agg. Exploding here is deliberate: higher-order
    array expressions (transform/array_min) are evaluated by the
    interpreter, and an all-array formulation of this pipeline ran
    14x slower (2.6s vs 0.18s at sf0.1) than exploded rows flowing
    through whole-stage-codegen md5 + min. The shuffle is unaffected:
    the min agg is map-side partial, so one row per document crosses
    the wire regardless of shingle count."""
    d = _t(spark, sf_dir, "documents").where(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    ex = d.select(
        "doc_id", F.explode(_spark_shingles_col()).alias("s")
    ).select("doc_id", F.md5("s").alias("h"))
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", 4 * j + 1, 4)).alias(f"mh{j}")
            for j in range(_N_MINHASH)
        ]
    )
    return mins.select(
        "doc_id",
        *[
            F.substring(
                F.md5(F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}"))),
                1,
                12,
            ).alias(f"band{b}")
            for b in range(_BANDS)
        ],
    )


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, bv) rows of the shared MinHash signatures."""
    return dedup_minhash_signatures(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(_BANDS)])
        ).alias("band_idx", "bv"),
    )


# Hot-bucket cap: a web corpus has mega-buckets (boilerplate, empty
# docs) whose all-pairs output is O(n^2) and whose aggregation state
# is unbounded. Buckets up to the cap emit exact all-pairs; larger
# buckets emit STAR pairs (bucket-min doc id -> every member), which
# preserves connected components — the property dedup clustering
# consumes — with O(n) output and zero aggregation state. The oracle
# SQL expresses the same hybrid semantics, so parity holds even on a
# corpus with hot buckets.
_LSH_BUCKET_CAP = 64


def _capped_pairs_sql(cap: int = _LSH_BUCKET_CAP) -> str:
    """DuckDB tail for the hybrid capped-bucket pair emission over a
    `bands(doc_id, band_idx, bv)` CTE — the SQL mirror of
    `_capped_band_pairs` (same small/star semantics, so parity holds
    even on a corpus with hot buckets)."""
    return f"""
    sized AS (
      SELECT doc_id, band_idx, bv,
             count(*) OVER (PARTITION BY band_idx, bv) AS n,
             min(doc_id) OVER (PARTITION BY band_idx, bv) AS hub
      FROM bands
    ),
    small AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sized a JOIN sized b
        ON a.band_idx = b.band_idx AND a.bv = b.bv
      WHERE a.n BETWEEN 2 AND {cap} AND a.doc_id < b.doc_id
    ),
    big AS (
      SELECT hub AS doc_a, doc_id AS doc_b
      FROM sized WHERE n > {cap} AND doc_id != hub
    ),
    pairs AS (
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM small UNION ALL SELECT * FROM big) u
    )
    """


def _capped_band_pairs(
    bands: DataFrame, cap: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct candidate pairs from (doc_id, band_idx, bv) band rows
    with bounded per-bucket state: buckets of 2..cap docs emit exact
    all-pairs from a provably <=cap collect_list; bigger (hot)
    buckets emit O(n) star pairs (bucket-min doc -> member), which
    preserves connected components. ONE wide exchange of band rows
    that every consumer reuses (ReuseExchange), hash aggregation
    only — no sort, no WindowExec. See dedup_minhash_pairs for the
    full plan narrative."""
    rep = bands.repartition("band_idx", "bv")
    counts = rep.groupBy("band_idx", "bv").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("hub")
    )
    # shuffle-hash, not sort-merge: both sides are already partitioned
    # on the join keys (the probe reuses the SAME exchange instance —
    # ReuseExchange dedups it, so the input is scanned once), and SHJ
    # skips the per-partition sort SMJ would add; the build side holds
    # one (n, hub) per bucket
    joined = rep.join(
        counts.hint("shuffle_hash"), ["band_idx", "bv"]
    ).where(F.col("n") >= 2)
    star_key = F.when(F.col("n") > cap, F.col("doc_id")).otherwise(
        F.lit(-1)
    )
    buckets = joined.groupBy("band_idx", "bv", star_key.alias("sk")).agg(
        F.first("n").alias("n"),
        F.first("hub").alias("hub"),
        F.sort_array(F.collect_list("doc_id")).alias("ids"),
    )
    empty = F.array().cast("array<struct<doc_a:bigint,doc_b:bigint>>")
    pairs = buckets.select(
        F.explode(
            F.when(
                F.col("n") <= cap,
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ids"),
                                i + 2,
                                F.size(F.col("ids")) - i - 1,
                            ),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                ),
            )
            .when(
                F.col("sk") != F.col("hub"),
                F.array(
                    F.struct(
                        F.col("hub").alias("doc_a"),
                        F.col("sk").alias("doc_b"),
                    )
                ),
            )
            .otherwise(empty)
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _band_bucket_stats(bands: DataFrame) -> DataFrame:
    """Per band_idx: bucket count, buckets over _LSH_BUCKET_CAP (the
    ones _capped_band_pairs turns into star pairs) and the largest
    bucket, from (doc_id, band_idx, bv) band rows."""
    buckets = bands.groupBy("band_idx", "bv").agg(
        F.count(F.lit(1)).alias("n")
    )
    return buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when(F.col("n") > _LSH_BUCKET_CAP, 1).otherwise(0)
        ).alias("capped_buckets"),
        F.max("n").alias("max_bucket"),
    )


_MINHASH_DUCK_BANDS = f"""
    WITH sigs AS ({_MINHASH_DUCK_SIGS}),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS bv FROM sigs"
        for b in range(_BANDS)
      )}
    ),
"""

# DuckDB tail of _band_bucket_stats over a `bands` CTE
_BAND_BUCKET_STATS_DUCK = f"""
    buckets AS (
      SELECT band_idx, bv, count(*) AS n
      FROM bands GROUP BY band_idx, bv
    )
    SELECT band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n > {_LSH_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS capped_buckets,
           CAST(max(n) AS BIGINT) AS max_bucket
    FROM buckets
    GROUP BY band_idx
"""

_MINHASH_DUCK_PAIRS = f"""
    {_MINHASH_DUCK_BANDS}
    {_capped_pairs_sql()}
    SELECT doc_a, doc_b FROM pairs
"""


@register("dedup_minhash_pairs", _MINHASH_DUCK_PAIRS)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: documents sharing any band bucket, with
    bounded per-bucket state and ONE input scan.

    Shape: explode the 4 bands to (band_idx, bv, doc_id) rows and
    repartition on (band_idx, bv) — the plan's ONLY wide exchange of
    band rows, and every consumer below reuses it (Spark's
    ReuseExchange dedups the identical subtree, asserted by
    tests/test_plans.py). On the exchanged rows:

    1. `counts`: partition-local hash agg -> (n, hub=min doc_id) per
       bucket. O(1) state per bucket, no sort.
    2. join counts back (shuffle-hash, co-partitioned: no exchange,
       no sort) so each band row knows its bucket's size.
    3. ONE more partition-local hash agg keyed by
       (band_idx, bv, star_key) where star_key = -1 for small-bucket
       rows and the row's own doc_id for mega-bucket rows: a small
       bucket (2 <= n <= _LSH_BUCKET_CAP) collapses to one group
       whose collect_list buffer is provably <= cap (the n-filter ran
       before the agg), and a mega-bucket row is its own singleton
       group (buffer of exactly 1) — bounded state for ANY bucket
       size, with both branches expressed in a single consumer so no
       plan subtree is duplicated.
    4. emission: small groups emit exact all-pairs from the sorted id
       array; mega-bucket groups (boilerplate/empty-doc buckets in a
       web corpus, previously an unbounded collect_list and O(n^2)
       output) emit their single star pair (hub = bucket-min doc id
       -> member). Star pairs preserve the buckets' connected
       components, which is the property downstream dedup clustering
       consumes.

    A previous build computed n/hub/rank/ids with four window
    functions over the same exchange: bounded, but the sort-based
    WindowExec costs ~100us per tiny bucket and regressed 48% vs the
    r1 hash agg (5.8s vs 3.9s at sf0.1). This build keeps the window
    version's boundedness with hash aggregation only — no sort, no
    WindowExec — and measured 3.6s. The exchange/agg/emission tail is
    shared with the phash pipeline as _capped_band_pairs."""
    return _capped_band_pairs(_minhash_bands(spark, sf_dir))



@register(
    "dedup_minhash_hot_buckets",
    _MINHASH_DUCK_BANDS + _BAND_BUCKET_STATS_DUCK,
)
def dedup_minhash_hot_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Accounting for the LSH hot-bucket cap: per band, how many
    buckets exist, how many exceeded _LSH_BUCKET_CAP (and thus
    switched to star pairs in dedup_minhash_pairs), and the largest
    bucket. No silent caps — this is the query an operator runs to
    see exactly what the cap did to a corpus."""
    return _band_bucket_stats(_minhash_bands(spark, sf_dir))


# --- LSH verification + clustering: the dedup pipeline's endgame -----------
# Candidates (dedup_minhash_pairs) -> Jaccard-verified edges -> connected
# components -> one canonical keeper per cluster. This is the shape of an
# actual training-data dedup run: the pairwise kernel touches ONLY the
# LSH candidates (never all-pairs), and the clustering is O(log n)
# rounds of large-star/small-star contraction — each round two slim
# min aggs + dedups, no driver-side loop over collected edges.

_JACCARD_TAU = 0.4

_SHINGLE_SETS_DUCK = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> array_to_string(
                      (string_split(text, ' '))[i + 1 : i + 3], ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
"""

_LSH_VERIFIED_DUCK = f"""
    WITH cand AS ({_MINHASH_DUCK_PAIRS}),
    sh AS ({_SHINGLE_SETS_DUCK})
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b
    WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
          (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)))
          >= {_JACCARD_TAU}
"""


@register("lsh_verified_pairs", _LSH_VERIFIED_DUCK)
def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-verified near-duplicate edges: the 3-gram Jaccard
    kernel evaluated ONLY on LSH candidate pairs. At corpus scale the
    candidate set is O(dups), so the two hash joins against the
    shingle-set projection shuffle candidate rows + one shingle set
    per involved doc — never the corpus against itself. Docs join by
    id (slim keys); shingle sets travel once per side.

    Shingle sets are computed ONLY for candidate-involved docs: the
    corpus is semi-joined against the distinct candidate ids (slim
    key shuffle, AQE broadcasts the id side when small) BEFORE the
    shingle projection, so the split/transform/distinct work — the
    dominant cost — scales with O(candidate docs), not corpus size
    (measured 2x faster at sf0.1 where candidates touch ~7% of
    docs; the gap widens with corpus size)."""
    cand = dedup_minhash_pairs(spark, sf_dir)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = (
        _t(spark, sf_dir, "documents")
        .join(ids, "doc_id")
        .where(F.size(F.split(F.col("text"), " ")) >= 3)
    )
    sh = d.select(
        "doc_id",
        F.array_distinct(_spark_shingles_col()).alias("shingles"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    j = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    jac = inter / union
    return j.where(jac >= _JACCARD_TAU).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


_CONTAIN_TAU = 0.8

_LSH_CONTAINMENT_DUCK = f"""
    WITH cand AS ({_MINHASH_DUCK_PAIRS}),
    sh AS ({_SHINGLE_SETS_DUCK}),
    s AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) AS la,
             len(b.shingles) AS lb
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           floor(inter * 10000.0 / least(la, lb)) / 10000
             AS containment,
           floor(inter * 10000.0 / (la + lb - inter)) / 10000
             AS jaccard,
           CAST(CASE WHEN floor(inter * 10000.0 / (la + lb - inter))
                          / 10000 < {_JACCARD_TAU}
                THEN 1 ELSE 0 END AS INTEGER) AS jaccard_missed
    FROM s
    WHERE inter * 1.0 / least(la, lb) >= {_CONTAIN_TAU}
"""


@register("lsh_containment_pairs", _LSH_CONTAINMENT_DUCK)
def lsh_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-verified near-duplicate edges: the asymmetric
    kernel C = |A∩B| / min(|A|, |B|) evaluated on the same LSH
    candidates as lsh_verified_pairs. Containment catches the
    duplication Jaccard structurally cannot: a document quoted whole
    inside a much longer one has C ≈ 1 but Jaccard ≈ |A|/|B| → 0, so
    a Jaccard-only dedup pass keeps both copies. `jaccard_missed`
    marks exactly those pairs (containment ≥ 0.8 and Jaccard below
    the dedup threshold). On the synthetic corpus the flag is
    legitimately all-zero — its near-dups are similar-length edits —
    so the flag's semantics are exercised by a planted quote-in-long-
    doc corpus in tests/test_corpus_audits.py (same convention as
    pii_scan's digit-free zeros). Ratios are floor-scaled (tie-free
    across engines, see phash_bit_balance).

    100 TB shape: identical to lsh_verified_pairs — the kernel
    touches ONLY candidate pairs, shingle sets are built only for
    candidate-involved docs (semi-join first). MinHash LSH's
    collision probability is monotone in Jaccard, not containment, so
    extreme-skew containment pairs can evade the bands; the
    phrase-level backstop for those is
    ngram_contamination's broadcast gram join."""
    cand = dedup_minhash_pairs(spark, sf_dir)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = (
        _t(spark, sf_dir, "documents")
        .join(ids, "doc_id")
        .where(F.size(F.split(F.col("text"), " ")) >= 3)
    )
    sh = d.select(
        "doc_id",
        F.array_distinct(_spark_shingles_col()).alias("shingles"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    j = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    la, lb = F.size("sa"), F.size("sb")
    containment = F.floor(inter * 10000.0 / F.least(la, lb)) / 10000
    jac = F.floor(inter * 10000.0 / (la + lb - inter)) / 10000
    return j.where(
        inter * 1.0 / F.least(la, lb) >= _CONTAIN_TAU
    ).select(
        "doc_a",
        "doc_b",
        containment.alias("containment"),
        jac.alias("jaccard"),
        F.when(jac < _JACCARD_TAU, 1)
        .otherwise(0)
        .cast("int")
        .alias("jaccard_missed"),
    )


# Alternating large-star/small-star contraction (Kiveris et al.,
# SoCC'14): each round hop-doubles paths toward the component
# minimum, so convergence is O(log n) rounds even on a chain-shaped
# corpus (one-hop min-label propagation, the previous build, needed
# O(diameter)). The loop checks the edge-set fixpoint after every
# round (one count + one anti-join over the two checkpointed edge
# tables, same cost class as the round itself) and stops. LSH graphs
# are star-dominated (hub pairs from the bucket cap, all-pairs
# cliques below it): observed convergence is <=3 rounds;
# _CC_MAX_ROUNDS bounds pathology, and the SQL oracle (exact
# transitive closure) catches any graph that somehow exceeds it.
_CC_ROUNDS = 8  # fixed-round mode for tests; see min_label_components
_CC_MAX_ROUNDS = 32

def _clusters_duck_sql(cand_sql: str) -> str:
    """Recursive-CTE exact transitive closure + keep table over any
    candidate-pair SQL — the oracle mirror of _cluster_keep_table."""
    return f"""
    WITH RECURSIVE cand AS ({cand_sql}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b, doc_a FROM cand
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    assigned AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           doc_id = cluster_id AS keep,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM assigned
"""


_CLUSTERS_DUCK = _clusters_duck_sql(_MINHASH_DUCK_PAIRS)


_CC_DRIVER_MAX_EDGES = 1_000_000


def _driver_union_find(
    edge_rows, nodes: DataFrame
) -> DataFrame:
    """Exact connected components for a SMALL edge list on the driver:
    classic union-find with path compression + union by size, then
    each vertex labeled with its component's minimum id — identical
    semantics to star contraction at any diameter. Driver memory
    is bounded by the caller's edge cap (two ids per edge); the
    result is a tiny label table the corpus join broadcasts."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def union(a, b):
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra == rb:
            return
        if size[ra] < size[rb]:
            ra, rb = rb, ra
        parent[rb] = ra
        size[ra] += size[rb]

    for r in edge_rows:
        union(r[0], r[1])
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        if root not in comp_min or v < comp_min[root]:
            comp_min[root] = v
    rows = [(v, comp_min[find(v)]) for v in parent]
    spark = nodes.sparkSession
    id_type = nodes.schema["doc_id"].dataType
    from pyspark.sql import types as _T

    schema = _T.StructType(
        [
            _T.StructField("doc_id", id_type),
            _T.StructField("__uf_label", id_type),
        ]
    )
    lab = spark.createDataFrame(rows, schema)
    return nodes.join(F.broadcast(lab), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("__uf_label"), F.col("doc_id")).alias(
            "cluster_id"
        ),
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation (Kiveris/Lattanzi/Mirrokni/Rastogi/
    Vassilvitskii, "Connected Components in MapReduce and Beyond",
    SoCC'14): each node links its strictly-LARGER neighbors to the
    minimum of its closed neighborhood. Reads (u, v) symmetrically;
    every output edge points larger -> smaller, so no self-loops.
    One shuffle for the per-node min (map-side partial), one for the
    dedup — both O(edges)."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("nbr_min"))
    m = F.least(F.col("u"), F.col("nbr_min"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: orient every edge larger -> smaller,
    then each node relinks its smaller neighbors (and itself) to the
    minimum among them. Output edges also point larger -> smaller."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        o.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    center = mins.select("u", F.col("m").alias("v"))
    return relink.unionByName(center).distinct()


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    rounds: Optional[int] = None,
    max_rounds: int = _CC_MAX_ROUNDS,
    driver_max_edges: Optional[int] = _CC_DRIVER_MAX_EDGES,
    pairs_materialized: bool = False,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Connected components over undirected `pairs` (doc_a, doc_b) by
    ALTERNATING large-star / small-star contraction (Kiveris et al.,
    SoCC'14 — the O(log n)-round algorithm); `nodes` supplies the
    full vertex domain (doc_id) so isolated vertices become their own
    component. Each round applies large-star then small-star to the
    edge set and stops when the edge set reaches its fixpoint — a
    forest of stars whose centers are the component minima. Unlike
    one-hop min-label propagation (the previous build, O(diameter)
    rounds — a chain-shaped near-dup graph at corpus scale would need
    diameter full-edge joins), star contraction hop-doubles: a 10k-
    node path converges in ~log2(n) rounds (round-count test in
    tests/test_clusters.py). Pass `rounds` for a fixed budget instead
    (exact when rounds >= diameter — star rounds are never slower
    than one-hop rounds, and extra rounds past the fixpoint are
    no-ops; the boundary tests use this). Each round is two
    map-side-combined min aggs + two dedups, all O(edges); lineage is
    truncated per round with localCheckpoint — without that, round
    k's plan embeds the edge pipeline k more times and Catalyst blows
    the driver heap before any task runs. Pass a dict as ``stats`` to
    receive {"rounds", "final_edges", "mode"}.
    Returns (doc_id, cluster_id).

    Small-graph shortcut: when the edge list fits under
    ``driver_max_edges`` (bounded collect — the LSH pair emission is
    already capped per bucket, but the TOTAL is corpus-dependent),
    components come from one driver-side union-find instead of
    diameter+1 rounds of tiny jobs: exact at any diameter, one job to
    collect the edges and one broadcast join to label the vertex
    domain. Above the cap (or with a fixed ``rounds`` budget, which
    the boundary tests use), the fully-distributed loop runs — the
    100 TB path, O(edges) per round, no driver graph.

    The candidate pipeline executes ONCE regardless of which branch
    wins: `pairs` is materialized (localCheckpoint) BEFORE the
    driver-shortcut probe, so the probe's limit+collect and — when
    the probe overflows — the symmetric edge table both read the
    checkpoint instead of re-running the upstream LSH shuffles (at
    corpus scale the >cap case is exactly the one that would pay the
    pipeline twice). Callers that already hold a materialized edge
    frame pass ``pairs_materialized=True`` to skip the re-checkpoint
    (e.g. _cluster_keep_table, which shares it with the involved-
    vertex projection)."""
    if rounds is None and driver_max_edges:
        if not pairs_materialized:
            pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
        edge_rows = pairs.limit(driver_max_edges + 1).collect()
        if len(edge_rows) <= driver_max_edges:
            if stats is not None:
                stats.update(
                    {"rounds": 0, "final_edges": len(edge_rows),
                     "mode": "driver_union_find"}
                )
            return _driver_union_find(
                [(r["doc_a"], r["doc_b"]) for r in edge_rows], nodes
            )
    edges = (
        pairs.where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    prev_count = edges.count()
    used = 0
    for _ in range(rounds if rounds is not None else max_rounds):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        used += 1
        if rounds is None:
            # fixpoint test: set equality via count + one anti-join
            # (new \ old empty AND |new| == |old| => equal). Both run
            # over checkpointed frames, so each is one slim job.
            new_count = new_edges.count()
            if new_count == prev_count and (
                new_edges.join(edges, ["u", "v"], "left_anti").count()
                == 0
            ):
                edges = new_edges
                break
            prev_count = new_count
        edges = new_edges
    if stats is not None:
        stats.update(
            {"rounds": used, "final_edges": edges.count(),
             "mode": "star_contraction"}
        )
    # at the fixpoint every non-minimum vertex carries exactly the
    # edge (v, component_min); the min agg also makes the fixed-
    # `rounds` pre-convergence state well-defined (best label so far)
    lab = edges.groupBy("u").agg(F.min("v").alias("__cc_label"))
    return nodes.join(
        lab.withColumnRenamed("u", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("__cc_label"), F.col("doc_id")).alias(
            "cluster_id"
        ),
    )


@register("dedup_clusters", _CLUSTERS_DUCK)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate graph + canonical
    keeper per cluster — the keep/drop table a dedup pass feeds back
    into the pipeline. cluster_id = component-minimum doc_id, found
    by O(log n) rounds of large-star/small-star contraction: every
    round is two map-side-combined min aggs + dedups over the edge
    set — O(edges) work per round, fully distributed, no driver-side
    graph (see min_label_components). keep = (doc_id == cluster_id)
    needs NO extra pass because the converged star center IS the
    component min. The oracle computes the exact transitive closure,
    so a graph that somehow exceeded the round budget would fail
    parity loudly instead of silently under-merging.

    Propagation runs ONLY over candidate-involved vertices: a doc
    with no candidate edge is its own singleton component and its
    label can never change, so shuffling the full corpus label table
    through every round (O(corpus x rounds)) is wasted — the involved
    set is O(candidate docs). The corpus then LEFT-joins the small
    converged label table once (AQE broadcasts it), coalescing
    singletons to (own id, keep, size 1)."""
    cand = dedup_minhash_pairs(spark, sf_dir)
    return _cluster_keep_table(spark, sf_dir, cand)


def _cluster_keep_table(
    spark: SparkSession, sf_dir: str, cand: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, keep, cluster_size) over the full corpus
    from candidate pairs: large-star/small-star contraction over the
    candidate-involved vertices only, then one LEFT join back to the
    corpus (AQE broadcasts the small converged label table).

    The candidate pipeline is materialized ONCE here (localCheckpoint)
    and every consumer — the involved-vertex projection, the
    driver-shortcut probe, the distributed edge table — reads the
    checkpoint; without this the LSH shuffles re-execute up to three
    times."""
    cand = cand.select("doc_a", "doc_b").localCheckpoint()
    involved = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labels = min_label_components(cand, involved, pairs_materialized=True)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    lab = labels.join(sizes, "cluster_id")
    d = _t(spark, sf_dir, "documents").select("doc_id")
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return d.join(lab, "doc_id", "left").select(
        "doc_id",
        cid.alias("cluster_id"),
        (F.col("doc_id") == cid).alias("keep"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).alias("cluster_size"),
    )


@register(
    "dedup_ratio_by_source",
    f"""
    WITH cl AS ({_CLUSTERS_DUCK})
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN cl.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_docs,
           round(1.0 - sum(CASE WHEN cl.keep THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_ratio
    FROM documents d JOIN cl ON cl.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def dedup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pass's report card: per source, how many documents
    survive canonical-keeper selection. Joins the keep/drop table
    (dedup_clusters) back to document metadata on slim doc_id keys —
    the downstream-consumption shape of the clustering output."""
    cl = dedup_clusters(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    j = d.join(cl, "doc_id")
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        kept.alias("kept_docs"),
        F.round(1.0 - kept / F.count(F.lit(1)), 4).alias("dup_ratio"),
    )


# --- SimHash ----------------------------------------------------------------
# 16-bit simhash from the first 4 md5 hex chars of each token; bit j
# is set when the +1/-1 vote over all tokens is positive.


def _hexval_sql(expr: str, dialect: str) -> str:
    """int value of the first 4 hex chars of md5(token); delegates
    the hex-digit arithmetic to _hexval_sql_raw (positions 1-4 of
    the full md5 string ARE its 4-char prefix)."""
    return _hexval_sql_raw(f"md5({expr})", dialect)


def _token_hash_sql(dialect: str) -> str:
    """words -> array of 16-bit ints, hashing each token ONCE:
    md5 runs in the inner lambda (one call per token) and the hex ->
    int arithmetic reads the 4-char prefix `m`, never re-hashing.
    Inlining _hexval_sql(w) into every bit vote instead costs 16
    redundant md5 evaluations per token — Spark does not CSE across
    lambda bodies, and CollapseProject will not duplicate a
    higher-order function, so projecting this ONCE and voting over
    the int array is both the cheap and the plan-stable shape."""
    lt = "list_transform" if dialect == "duck" else "transform"
    return (
        f"{lt}({lt}(words, w -> substr(md5(w), 1, 4)), "
        f"m -> {_hexval_sql_raw('m', dialect)})"
    )


def _hexval_sql_raw(expr: str, dialect: str) -> str:
    """int value of a 4-hex-char string `expr` (no hashing)."""
    pos = "strpos" if dialect == "duck" else "instr"
    parts = [
        f"({pos}('0123456789abcdef', substr({expr}, {k}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i, k in enumerate(range(1, 5))
    ]
    return "(" + " + ".join(parts) + ")"


def _simhash_bits_sql(dialect: str) -> str:
    """16 bit-test votes over the materialized token-hash int array
    `hv` — integer arithmetic only, no hashing."""
    lt = "list_transform" if dialect == "duck" else "transform"
    lsum = (
        "list_sum({x})"
        if dialect == "duck"
        else "aggregate({x}, 0, (acc, v) -> acc + v)"
    )
    bits = []
    for j in range(16):
        vote = (
            f"{lt}(hv, v -> CASE WHEN "
            f"CAST(floor(v / {2 ** j}.0) AS BIGINT) % 2 = 1 "
            f"THEN 1 ELSE -1 END)"
        )
        bits.append(
            f"(CASE WHEN {lsum.format(x=vote)} > 0 "
            f"THEN {2 ** j} ELSE 0 END)"
        )
    return " + ".join(bits)


_SIMHASH_DUCK = f"""
    SELECT doc_id, {_simhash_bits_sql("duck")} AS simhash16
    FROM (SELECT doc_id, {_token_hash_sql("duck")} AS hv
          FROM (SELECT doc_id, string_split(text, ' ') AS words
                FROM documents))
"""


@register("dedup_simhash", _SIMHASH_DUCK)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document — pure expression pipeline (whole
    document set never leaves the JVM; one projection, no shuffle).
    Each token is md5-hashed exactly ONCE into a 16-bit int array;
    the 16 bit votes are integer aggregates over that array (see
    _token_hash_sql — the hash-per-vote inlining costs 16x md5)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.split(F.col("text"), " ").alias("words"))
        .select(
            "doc_id",
            F.expr(_token_hash_sql("spark")).alias("hv"),
        )
        .select(
            "doc_id",
            F.expr(_simhash_bits_sql("spark")).alias("simhash16"),
        )
    )


# --- n-gram Jaccard ---------------------------------------------------------


@register(
    "ngram_jaccard_adjacent",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> array_to_string(
                      (string_split(text, ' '))[i + 1 : i + 3], ' ')
             )) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity for adjacent doc pairs — the
    verification kernel used on LSH candidate pairs (never all-pairs
    at scale; candidates come from dedup_minhash_pairs)."""
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.array_distinct(_spark_shingles_col()).alias("shingles"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    )
    union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    )
    return a.join(
        b, F.col("b.doc_id") == F.col("a.doc_id") + 1
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        # try_divide: two shingle-less docs (under 3 tokens each)
        # union to 0, which must be NULL — the DuckDB 0/0 result —
        # not an ANSI DIVIDE_BY_ZERO error
        F.round(F.try_divide(inter, union), 4).alias("jaccard"),
    )



# --- perceptual-hash (image) near-dup --------------------------------------
# The north-rule table is image+caption rows with a 64-bit perceptual
# hash (phash:int64). Near-duplicate images differ in a few phash bits,
# so dedup is hamming-radius search: band-LSH over the hash's 16-bit
# words (two hashes within hamming<=r collide on at least one of 4
# bands whenever their differing bits fall in <=3 words — always true
# for r<=3, overwhelmingly for the radius used here), then exact
# bit_count(xor) verification on candidates only. The testdata tables
# carry no binary payload, so the phash itself is DERIVED
# deterministically from doc_id in both engines: docs share a group
# (30% of docs land in one hot "boilerplate" group, the rest spread
# over 211 groups), group -> 4 md5-derived 16-bit words, and odd docs
# flip one low word bit — planted near-dups with hamming<=2 inside a
# group, ~32 expected across groups.

_PHASH_HAMMING_MAX = 6


def _phash_parts_sql(dialect: str) -> Tuple[List[str], str]:
    """(4 16-bit word exprs, packed 63-bit phash expr) over a
    documents row, per dialect."""
    stype = "VARCHAR" if dialect == "duck" else "STRING"
    grp = (
        "(CASE WHEN doc_id % 10 < 3 THEN -1 ELSE doc_id % 211 END)"
    )
    words = []
    for i in range(4):
        tok = f"concat('ph', CAST({grp} AS {stype}), ':{i}')"
        w = f"CAST({_hexval_sql(tok, dialect)} AS BIGINT)"
        if i == 0:
            w = f"({w} % 32768)"  # keep the packed value inside int64
        words.append(w)
    flip = "CAST(round(power(2, doc_id % 16)) AS BIGINT)"
    w3 = (
        f"(CASE WHEN doc_id % 2 = 1 THEN xor({words[3]}, {flip}) "
        f"ELSE {words[3]} END)"
        if dialect == "duck"
        else f"(CASE WHEN doc_id % 2 = 1 THEN ({words[3]} ^ {flip}) "
        f"ELSE {words[3]} END)"
    )
    words = [words[0], words[1], words[2], w3]
    packed = (
        f"({words[0]} * 281474976710656 + {words[1]} * 4294967296 "
        f"+ {words[2]} * 65536 + {words[3]})"
    )
    return words, packed


def _phash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ph) rows: each document's packed phash."""
    _, packed = _phash_parts_sql("spark")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(packed).alias("ph")
    )


def phash_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bv) band rows of df(doc_id, ph): band i is
    the i-th 16-bit word of the 64-bit hash, high word first. The
    shift is unsigned, so a negative hash splits by its bits. Two
    hashes within hamming 3 always share a word."""
    words = F.array(
        *[
            F.shiftrightunsigned(F.col("ph"), 48 - 16 * w).bitwiseAND(
                F.lit(0xFFFF)
            )
            for w in range(4)
        ]
    )
    return df.select("doc_id", F.posexplode(words).alias("band_idx", "bv"))


def phash_near_pairs(
    ids: DataFrame, max_hamming: int, cap: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs of df(doc_id, ph) rows within
    ``max_hamming`` bits: phash_bands, then _capped_band_pairs (a
    bucket over ``cap`` docs emits O(n) star pairs from its min
    doc_id, so its membership is decided against that hub only — the
    documented approximation), then bit_count(xor) on candidates
    only. ``ids`` is read three times, so its doc_id must be stable
    across recomputation."""
    pairs = _capped_band_pairs(phash_bands(ids), cap=cap)
    a = ids.select(F.col("doc_id").alias("doc_a"), F.col("ph").alias("pa"))
    b = ids.select(F.col("doc_id").alias("doc_b"), F.col("ph").alias("pb"))
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .where(hamming <= max_hamming)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


def _phash_duck_bands() -> str:
    """DuckDB `base(doc_id, w0..w3, phash)` and `bands` CTEs."""
    words, packed = _phash_parts_sql("duck")
    return f"""
    WITH base AS (
      SELECT doc_id,
             {words[0]} AS w0, {words[1]} AS w1,
             {words[2]} AS w2, {words[3]} AS w3,
             {packed} AS phash
      FROM documents
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, w{i} AS bv FROM base"
        for i in range(4)
      )}
    ),
"""


def _phash_duck_sql() -> str:
    return f"""
    {_phash_duck_bands()}
    {_capped_pairs_sql()}
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM pairs p
    JOIN base a ON a.doc_id = p.doc_a
    JOIN base b ON b.doc_id = p.doc_b
    WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_HAMMING_MAX}
    """


@register("phash_hamming_neardup", _phash_duck_sql())
def phash_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash hamming radius:
    phash_near_pairs over the packed phash, the same kernel
    expect_column_phash_near_duplicate_rate_to_be_between calls. At
    corpus scale one wide exchange of slim (doc_id, band_idx, bv)
    rows is reused by the count and probe sides, and verification
    joins touch only candidate ids — the full corpus is never
    pairwise-compared.

    The reference has no phash dedup; this is the image-payload
    analogue of its uniqueness checks (north-rule input shape
    `phash:int64`). Reference parity anchor for expectation-style
    uniqueness: great_expectations/expectations/core/
    expect_column_values_to_be_unique.py."""
    return phash_near_pairs(
        _phash_docs(spark, sf_dir), _PHASH_HAMMING_MAX, _LSH_BUCKET_CAP
    )


def _phash_band_stats_duck_sql() -> str:
    return _phash_duck_bands() + _BAND_BUCKET_STATS_DUCK


@register("phash_band_stats", _phash_band_stats_duck_sql())
def phash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting for the phash hamming-LSH cap: per 16-bit-word band,
    how many buckets exist, how many exceeded _LSH_BUCKET_CAP (and so
    degraded to star pairs in phash_hamming_neardup), and the largest
    bucket. Same no-silent-caps contract as dedup_minhash_hot_buckets
    — an operator sees exactly which boilerplate image clusters were
    capped and how big they were before trusting the near-dup pass."""
    return _band_bucket_stats(phash_bands(_phash_docs(spark, sf_dir)))


@register("phash_clusters", _clusters_duck_sql(_phash_duck_sql()))
def phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup endgame: connected components + canonical keeper
    over the hamming-VERIFIED phash pairs — the keep/drop table of a
    near-duplicate image pass, exactly symmetric to the text
    pipeline's dedup_clusters (same star contraction over
    candidate-involved vertices only, same exact-transitive-closure
    oracle, so an under-merged graph fails parity loudly). The star
    pairs a capped boilerplate bucket emits preserve connectivity, so
    the mega-group still collapses to one keeper."""
    cand = phash_hamming_neardup(spark, sf_dir).select("doc_a", "doc_b")
    return _cluster_keep_table(spark, sf_dir, cand)


def _vec_dot(x, y):
    """JVM array-expression dot product (no Python)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _vec_cos(x, y):
    # try_divide, not /: a zero-norm (dead) embedding's cosine is
    # undefined, and under Spark 4's default ANSI mode a plain
    # division would abort the WHOLE job on one such row at corpus
    # scale. NULL sims sort last under the desc top-k orderings, so
    # dead vectors simply never rank; embedding_norm_stats is the
    # query that surfaces them.
    return F.try_divide(
        _vec_dot(x, y),
        F.sqrt(_vec_dot(x, x)) * F.sqrt(_vec_dot(y, y)),
    )


# Hot-label cap for the embedding near-dup self-join: same pattern as
# the LSH bucket cap. A label (coarse cluster) holding b vectors costs
# O(b^2) in-bucket compares; a boilerplate-dominated cluster at corpus
# scale is the same quadratic blowup as an LSH mega-bucket. Labels up
# to the cap keep the exact all-pairs compare; larger labels emit STAR
# pairs (label-min vec_id hub -> every member passing the sim gate) —
# O(b) compares and output, connected components among hub-similar
# members preserved. embedding_bucket_stats is the accounting query.
_EMB_BUCKET_CAP = 64

_EMB_NEARDUP_DUCK = f"""
    WITH sized AS (
      SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
             count(*) OVER (PARTITION BY label) AS n,
             min(vec_id) OVER (PARTITION BY label) AS hub
      FROM embeddings
    ),
    small AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_cosine_similarity(a.v, b.v) AS s
      FROM sized a JOIN sized b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE a.n <= {_EMB_BUCKET_CAP}
    ),
    big AS (
      SELECT h.vec_id AS vec_a, m.vec_id AS vec_b,
             list_cosine_similarity(h.v, m.v) AS s
      FROM sized h JOIN sized m
        ON h.label = m.label AND m.vec_id <> h.vec_id
      WHERE h.n > {_EMB_BUCKET_CAP} AND h.vec_id = h.hub
    )
    SELECT vec_a, vec_b, round(s, 6) AS sim
    FROM (SELECT * FROM small UNION ALL SELECT * FROM big) u
    WHERE s >= 0.35
"""


def embedding_neardup_pairs(
    e: DataFrame, cap: int = _EMB_BUCKET_CAP, tau: float = 0.35
) -> DataFrame:
    """Core of dedup_embedding_neardup, parameterized for tests and
    reuse: near-dup pairs within each `label` bucket, exact all-pairs
    for buckets <= cap, hub-star pairs for hot buckets."""
    sizes = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("hub")
    )
    # label cardinality is O(#clusters) — a broadcast, never a shuffle
    sized = e.select(
        "label",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).join(F.broadcast(sizes), "label")
    a = sized.where(F.col("n") <= cap).select(
        "label", F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = sized.where(F.col("n") <= cap).select(
        "label", F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    small = (
        a.join(b, "label")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _vec_cos("va", "vb").alias("s"))
    )
    hubs = sized.where(
        (F.col("n") > cap) & (F.col("vec_id") == F.col("hub"))
    ).select("label", F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    members = sized.where(F.col("n") > cap).select(
        "label", F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    big = (
        members.join(F.broadcast(hubs), "label")
        .where(F.col("vec_b") != F.col("vec_a"))
        .select("vec_a", "vec_b", _vec_cos("va", "vb").alias("s"))
    )
    return (
        small.unionByName(big)
        .where(F.col("s") >= tau)
        .select("vec_a", "vec_b", F.round("s", 6).alias("sim"))
    )


@register("dedup_embedding_neardup", _EMB_NEARDUP_DUCK)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cosine >= tau within
    the same coarse cluster (`label` — the IVF bucketing the ANN path
    already uses; ann_kmeans_topk shows the label-free construction).
    Bucketing makes the self-join per-bucket instead of corpus-wide:
    the shuffle hashes on label and a 10^9-vector corpus with
    ~sqrt(n) buckets stays tractable where an unbucketed self-join is
    n^2-impossible. The in-bucket compare is BOUNDED: buckets over
    _EMB_BUCKET_CAP switch from exact all-pairs to hub-star pairs
    (O(b) instead of O(b^2) — see embedding_neardup_pairs), so one
    boilerplate-dominated cluster can no longer go quadratic; the
    oracle encodes the identical hybrid semantics and
    embedding_bucket_stats reports exactly what the cap did. Missing
    cross-bucket pairs is the standard IVF recall tradeoff;
    embedding_cosine_topk is the exact-baseline check. Dot products
    are JVM array expressions — no Python.

    The synthetic embeddings table has no injected true dups (max
    in-bucket cosine ~0.48), so the tau=0.35 gate sits at the top of
    the actual distribution to keep the output non-trivial; a
    production near-dup pass uses ~0.9."""
    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_bucket_stats",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n > {_EMB_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS capped_buckets,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(min(n) AS BIGINT) AS min_bucket
    FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
    """,
)
def embedding_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting for the embedding hot-label cap: bucket count, how
    many buckets exceeded _EMB_BUCKET_CAP (and thus switched to
    hub-star pairs in dedup_embedding_neardup), and the size extremes.
    No silent caps — the operator's view of what the cap did."""
    e = _t(spark, sf_dir, "embeddings")
    buckets = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when(F.col("n") > _EMB_BUCKET_CAP, 1).otherwise(0)
        ).alias("capped_buckets"),
        F.max("n").alias("max_bucket"),
        F.min("n").alias("min_bucket"),
    )



# --- similarity search over embeddings --------------------------------------
# One kernel per step of the vector-search family; the registered
# queries, ann_recall and expect_ann_recall_to_be_greater_than
# (operators/ann_gate.py) all compose them. Frames use fixed names:
# candidates (nid, v[, bid]), queries (qid, qv), centroids (bid, cvec).
#   cosine_topk     exact cosine top-k, optionally within equal `bid`
#   ivf_topk        probe the nearest `nprobe` centroids, then rank
#                   inside those buckets with cosine_topk
#   kmeans_buckets  learned buckets: seeded fixed-iteration Lloyd
#   recall_counts   ANN rows vs the exact top-k, counted in one agg


def _emb(spark: SparkSession, sf_dir: str) -> Tuple[DataFrame, DataFrame]:
    """The vector-search inputs over `embeddings`: the corpus as
    (nid, v, bid), v the embedding as doubles and bid its label, and
    the query sample (qid, qv), the vectors with vec_id < 10."""
    base = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").alias("bid"),
    )
    q = base.where(F.col("nid") < 10).select(
        F.col("nid").alias("qid"), F.col("v").alias("qv")
    )
    return base, q


def _norm(col: str) -> Column:
    return F.sqrt(_vec_dot(F.col(col), F.col(col)))


def _normed_queries(queries: DataFrame) -> DataFrame:
    """The broadcast query side with its norm: every kernel that
    scores queries builds this same frame, so a plan that ranks one
    sample several times broadcasts (and scans) it once. A NULL norm
    (NULL vector or element) would score NULL against everything, so
    such a query is dropped here rather than by each ranking's
    inferred filter, which would make the broadcasts differ."""
    q = queries.withColumn("qnorm", _norm("qv"))
    return F.broadcast(q.where(F.col("qnorm").isNotNull()))


def _normed_cos(col: str, norm: str) -> Column:
    """_vec_cos(qv, col) with both norms precomputed: the same float64
    expression, so bit-identical sims. try_divide for the same
    dead-vector reason as _vec_cos."""
    return F.try_divide(
        _vec_dot(F.col("qv"), F.col(col)), F.col("qnorm") * F.col(norm)
    )


def cosine_topk(
    cand: DataFrame, queries: DataFrame, k: int, key: Optional[str] = None
) -> DataFrame:
    """(qid, [key,] nid, sim, rank): the exact cosine top-k candidates
    of every query, itself excluded. The query side is tiny and
    broadcast; without `key` each query scores every candidate (one
    corpus pass), with it only the candidates whose `key` equals the
    query's (its probed bucket). Dot products run as JVM array
    expressions — no Python.

    Norms are hoisted out of the pair join (_normed_cos): each is
    computed once per row, not once per (row, query) pair. Dead
    (zero-norm) vectors score NULL via try_divide and are dropped
    BEFORE ranking, so they never occupy a top-k slot on a corpus with
    fewer than k live candidates. Ties go to the lower nid."""
    c = cand.withColumn("cnorm", _norm("v"))
    q = _normed_queries(queries)
    pairs = c.crossJoin(q) if key is None else c.join(q, key)
    scored = pairs.where(F.col("nid") != F.col("qid")).select(
        "qid",
        *([key] if key else []),
        "nid",
        _normed_cos("v", "cnorm").alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.where(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def _topk_rows(top: DataFrame, bucket: Optional[str] = None) -> DataFrame:
    """A kernel top-k under the registered queries' column names, sim
    rounded to 6 decimals; `bucket` names the probed bid column."""
    return top.select(
        F.col("qid").alias("query_id"),
        *([F.col("bid").alias(bucket)] if bucket else []),
        F.col("nid").alias("neighbor_id"),
        F.round("sim", 6).alias("sim"),
        "rank",
    )


@register(
    "embedding_cosine_topk",
    """
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(
             CAST(q.embedding AS DOUBLE[]),
             CAST(c.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]),
               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
           ) AS BIGINT) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
    QUALIFY rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (the exact baseline for ANN):
    cosine_topk with no bucket key, so the corpus is scanned once
    against the broadcast query sample."""
    base, q = _emb(spark, sf_dir)
    return _topk_rows(cosine_topk(base, q, 5))


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """(bid, cvec): the mean vector of each bucket of `e` (bid, v),
    WITHOUT exploding vectors to rows.

    The previous build posexploded every vector (n x d Generate rows
    streaming through a hash agg; the shuffle itself was already
    bounded — partial_avg ran before the Exchange — but the per-row
    agg probes dominated CPU). This build keeps vectors whole:

    1. mapInPandas partials: each task folds its Arrow batches into
       one numpy (sum, count) per label — O(labels x dim) state, one
       output row per (partition, label), vectorized adds.
    2. Salted two-level merge: partials fold per (label, pid % 64)
       then per label, so no collect_list ever buffers more than 64
       (level 2) or ceil(partitions/64) (level 1) d-vectors even at
       10^6 input partitions.

    Measured 2.2x faster than the explode build at sf0.1; at corpus
    scale the win grows with d (numpy add vs d hash-agg probes/row).
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        sums: dict = {}
        counts: dict = {}
        pid = -1
        for pdf in batches:
            if len(pdf) and pid < 0:
                pid = int(pdf["pid"].iloc[0])
            for lab, grp in pdf.groupby("bid"):
                m = np.stack(grp["v"].values).astype("float64")
                if lab in sums:
                    sums[lab] += m.sum(axis=0)
                    counts[lab] += len(m)
                else:
                    sums[lab] = m.sum(axis=0)
                    counts[lab] = len(m)
        if sums:
            yield pd.DataFrame(
                {
                    "bid": pd.array(list(sums), dtype="Int32"),
                    "salt": pd.array(
                        [pid % 64] * len(sums), dtype="Int32"
                    ),
                    "psum": [s.tolist() for s in sums.values()],
                    "pn": pd.array(
                        [counts[k] for k in sums], dtype="Int64"
                    ),
                }
            )

    part = (
        e.select("bid", "v", F.spark_partition_id().alias("pid"))
        .mapInPandas(
            partials, "bid int, salt int, psum array<double>, pn long"
        )
    )
    def fold_sum(col):
        # fold from the FIRST collected array instead of a dim-sized
        # zero literal: the vector dimension never has to be known at
        # plan time, so no driver-side .first() probe job runs inside
        # plan construction (groups exist only for non-empty input,
        # so element_at(lst, 1) is always defined; identical agg
        # expressions share one buffer in the physical plan)
        lst = F.collect_list(col)
        return F.aggregate(
            F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
            F.element_at(lst, 1),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        )

    lvl1 = part.groupBy("bid", "salt").agg(
        fold_sum(F.col("psum")).alias("psum"), F.sum("pn").alias("pn")
    )
    return (
        lvl1.groupBy("bid")
        .agg(
            fold_sum(F.col("psum")).alias("sumvec"),
            F.sum("pn").alias("n"),
        )
        .select(
            "bid",
            F.transform(
                F.col("sumvec"), lambda s: s / F.col("n")
            ).alias("cvec"),
        )
    )


def ivf_topk(
    cand: DataFrame, queries: DataFrame, cent: DataFrame, nprobe: int, k: int
) -> DataFrame:
    """(qid, bid, nid, sim, rank): IVF search. Each query probes its
    `nprobe` max-cosine centroids (ties go to the lower bid), then
    cosine_topk ranks only the candidates of those buckets: the
    probed queries are broadcast, so the corpus side is bucket-pruned
    and shuffle-free up to the ranking. The probe itself broadcasts
    the queries, not the centroids, so it shares one query broadcast
    with every other kernel that ranks the same sample. Candidates
    carry one bid each, so a neighbor matches at most one probed
    bucket and no dedup is needed before the top-k."""
    w = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("bid"))
    probed = (
        cent.withColumn("cnorm", _norm("cvec"))
        .crossJoin(_normed_queries(queries))
        .withColumn("csim", _normed_cos("cvec", "cnorm"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("qid", "qv", "bid")
    )
    return cosine_topk(cand, probed, k, "bid")


@register(
    "ann_ivf_topk",
    """
    WITH ex AS (
      SELECT label, vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    centroids AS (
      SELECT label, list(cval ORDER BY pos) AS cvec
      FROM (SELECT label, pos, avg(val) AS cval
            FROM ex GROUP BY label, pos)
      GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
    assigned AS (
      SELECT query_id, qv, label AS assigned_label
      FROM (
        SELECT q.query_id, q.qv, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qv, c.cvec) DESC,
                          c.label
               ) AS rn
        FROM q CROSS JOIN centroids c
      ) WHERE rn = 1
    )
    SELECT a.query_id, a.assigned_label, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(
             a.qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
             PARTITION BY a.query_id
             ORDER BY list_cosine_similarity(
               a.qv, CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id
           ) AS BIGINT) AS rank
    FROM assigned a
    JOIN embeddings e ON e.label = a.assigned_label
                      AND e.vec_id <> a.query_id
    QUALIFY rank <= 3
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: k-means-free centroids (mean embedding per
    `label` cluster, built by _ivf_centroids without exploding
    vectors), probe the single best cluster, exact top-3 inside it.
    At scale: centroids are a broadcast table and the corpus is
    bucketed by cluster id, so each query touches one bucket instead
    of the full corpus."""
    base, q = _emb(spark, sf_dir)
    top = ivf_topk(base, q, _ivf_centroids(base), 1, 3)
    return _topk_rows(top, "assigned_label")


@register(
    "ann_multiprobe_topk",
    """
    WITH ex AS (
      SELECT label, vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    centroids AS (
      SELECT label, list(cval ORDER BY pos) AS cvec
      FROM (SELECT label, pos, avg(val) AS cval
            FROM ex GROUP BY label, pos)
      GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
    probed AS (
      SELECT query_id, qv, label AS probe_label
      FROM (
        SELECT q.query_id, q.qv, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qv, c.cvec) DESC,
                          c.label
               ) AS rn
        FROM q CROSS JOIN centroids c
      ) WHERE rn <= 2
    )
    SELECT a.query_id, a.probe_label, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(
             a.qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
             PARTITION BY a.query_id
             ORDER BY list_cosine_similarity(
               a.qv, CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id
           ) AS BIGINT) AS rank
    FROM probed a
    JOIN embeddings e ON e.label = a.probe_label
                      AND e.vec_id <> a.query_id
    QUALIFY rank <= 3
    """,
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: ann_ivf_topk with each query scanning its
    TWO nearest buckets — the standard recall fix for queries that
    land near a Voronoi boundary (their true neighbors straddle two
    cells). Cost stays bounded at 2/K of the corpus per query instead
    of 1/K."""
    base, q = _emb(spark, sf_dir)
    top = ivf_topk(base, q, _ivf_centroids(base), 2, 3)
    return _topk_rows(top, "probe_label")


# --- label-free ANN: deterministic k-means|| -style bucketing ---------------
# A real 100 TB corpus has no precomputed cluster label. This learns
# the IVF buckets from the vectors alone: deterministic seeding (the
# K lowest vec_ids' vectors), a FIXED number of Lloyd iterations so
# the whole computation is one reproducible dataflow the SQL oracle
# can mirror with CTEs, and centroids rounded to 9 decimals after
# each update so engine-specific float summation order (numpy partial
# sums vs DuckDB's sequential fold) cannot leak into the assignment.

_KMEANS_K = 8
_KMEANS_ITERS = 2


def _kmeans_assign(ev: DataFrame, cent: DataFrame) -> DataFrame:
    """(nid, v, bid): every vector of `ev` (nid, v) assigned to its
    max-cosine centroid (ties -> lowest bid). Centroids are a
    broadcast K-row table, so the crossJoin is row-local
    (BroadcastNestedLoop over K rows, no shuffle of the corpus); the
    argmax is a map-side-combined max(struct) hash agg — one slim
    (nid, v, bid) row per vector crosses the wire. Norms are hoisted
    as in cosine_topk: higher-order array expressions are
    interpreter-evaluated, so redundant dot products would be the
    assignment's dominant cost."""
    evn = ev.withColumn("vnorm", _norm("v"))
    centn = cent.withColumn("cnorm", _norm("cvec"))
    scored = evn.crossJoin(F.broadcast(centn)).select(
        "nid",
        "v",
        "bid",
        F.try_divide(
            _vec_dot(F.col("v"), F.col("cvec")),
            F.col("vnorm") * F.col("cnorm"),
        ).alias("sim"),
    )
    best = scored.groupBy("nid").agg(
        F.max(
            F.struct(F.col("sim"), (-F.col("bid")).alias("nbid"))
        ).alias("m"),
        F.first("v").alias("v"),
    )
    return best.select(
        "nid", "v", (-F.col("m.nbid")).cast("int").alias("bid")
    )


def _kmeans_update(assigned: DataFrame) -> DataFrame:
    """New centroids = per-bucket mean (_ivf_centroids), rounded to 9
    decimals."""
    return _ivf_centroids(assigned).select(
        "bid",
        F.transform(F.col("cvec"), lambda x: F.round(x, 9)).alias("cvec"),
    )


def check_kmeans_iters(iters: int) -> None:
    """k-means needs at least one assignment to return buckets."""
    if iters < 1:
        raise ValueError(f"k-means needs iters >= 1, got {iters}")


def kmeans_buckets(
    cand: DataFrame, k: int, iters: int
) -> Tuple[DataFrame, DataFrame]:
    """Learned IVF buckets for candidates (nid, v): `iters` Lloyd
    assignments seeded with the k lowest-nid vectors. Returns
    (assigned (nid, v, bid), cent (bid, cvec)): the final assignment
    and the centroids it was made against, so ivf_topk over them with
    nprobe=1 probes each corpus query's own bucket. The last update's
    centroids would never be consumed, so they are never built."""
    check_kmeans_iters(iters)
    ev = cand.select("nid", "v")
    w0 = Window.orderBy("nid")
    cent = (
        ev.orderBy("nid")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).cast("int").alias("bid"),
            F.col("v").alias("cvec"),
        )
    )
    for i in range(iters):
        assigned = _kmeans_assign(ev, cent)
        if i < iters - 1:
            cent = _kmeans_update(assigned)
    return assigned, cent


def _kmeans_duck_assign(cent_cte: str) -> str:
    return f"""
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cvec) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN {cent_cte} c) WHERE rn = 1
    """


_KMEANS_DUCK_UPDATE = """
      SELECT cid, list(round(cval, 9) ORDER BY pos) AS cvec
      FROM (SELECT cid, pos, avg(val) AS cval
            FROM (SELECT cid, unnest(v) AS val,
                         generate_subscripts(v, 1) AS pos FROM {src})
            GROUP BY cid, pos)
      GROUP BY cid
"""


@register(
    "ann_kmeans_topk",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
               AS cid, v AS cvec
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_KMEANS_K})
    ),
    a1 AS ({_kmeans_duck_assign("c0")}),
    c1 AS ({_KMEANS_DUCK_UPDATE.format(src="a1")}),
    a2 AS ({_kmeans_duck_assign("c1")}),
    q AS (
      SELECT vec_id AS query_id, v AS qv, cid AS qcid
      FROM a2 WHERE vec_id < 10
    )
    SELECT q.query_id,
           q.qcid AS assigned_cid,
           a.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, a.v), 6) AS sim,
           CAST(row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, a.v) DESC, a.vec_id
           ) AS BIGINT) AS rank
    FROM q JOIN a2 a ON a.cid = q.qcid AND a.vec_id <> q.query_id
    QUALIFY rank <= 3
    """,
)
def ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained ANN over an UNLABELED corpus: learn IVF buckets
    with kmeans_buckets (seed = the K lowest vec_ids' vectors — the
    reproducible stand-in for k-means|| oversampling), then probe the
    query's bucket for exact top-3. No n x d row explosion anywhere.
    A production run would persist the final assignment as the IVF
    index; this query keeps it lazy so the oracle can mirror the
    whole dataflow."""
    base, q = _emb(spark, sf_dir)
    cand, cent = kmeans_buckets(base, _KMEANS_K, _KMEANS_ITERS)
    return _topk_rows(ivf_topk(cand, q, cent, 1, 3), "assigned_cid")


# --- ANN recall accounting ---------------------------------------------------
# The no-silent-caps philosophy applied to ANN: every approximate
# top-k ships with a measured recall@k against the exact brute-force
# baseline, so a bucketing change that quietly destroys recall fails
# parity/monotonicity checks instead of shipping. One row per method.


def recall_counts(ann: DataFrame, exact: DataFrame, *by: str) -> DataFrame:
    """(*by, queries, returned, hits, exact_neighbors): per `by` group
    of the ANN rows (qid, nid), the queries that returned rows, the
    rows, and the rows that are also in the exact top-k (qid, nid);
    exact_neighbors is the size of the exact set. The exact set is
    queries x k rows; its hit join and its count read one ranking
    exchange, so the exact pass runs once without a checkpoint."""
    hit = exact.select("qid", "nid", F.lit(1).alias("hit"))
    n = exact.agg(F.count(F.lit(1)).alias("exact_neighbors"))
    return (
        ann.join(F.broadcast(hit), ["qid", "nid"], "left")
        .groupBy(*by)
        .agg(
            F.countDistinct("qid").alias("queries"),
            F.count(F.lit(1)).alias("returned"),
            F.count("hit").alias("hits"),
        )
        .crossJoin(F.broadcast(n))
    )


def _ann_recall_duck() -> str:
    """Composed oracle: each registered ANN oracle runs as a nested
    CTE against the SAME exact baseline oracle, so the recall numbers
    the driver verifies are recall of the *oracle-verified* plans."""
    exact = _REGISTRY["embedding_cosine_topk"][1]
    bodies = {
        m: _REGISTRY[f"ann_{m}_topk"][1]
        for m in ("ivf", "multiprobe", "kmeans")
    }
    unions = "\n      UNION ALL\n".join(
        f"      SELECT '{m}' AS method, query_id, neighbor_id "
        f"FROM ann_{m}" for m in ("ivf", "multiprobe", "kmeans")
    )
    return f"""
    WITH exact_all AS ({exact}),
    exact3 AS (
      SELECT query_id, neighbor_id FROM exact_all WHERE rank <= 3
    ),
    ann_ivf AS ({bodies['ivf']}),
    ann_multiprobe AS ({bodies['multiprobe']}),
    ann_kmeans AS ({bodies['kmeans']}),
    m AS (
{unions}
    ),
    xn AS (SELECT count(*) AS exact_neighbors FROM exact3)
    SELECT m.method,
           CAST(count(DISTINCT m.query_id) AS BIGINT) AS queries,
           CAST(count(*) AS BIGINT) AS returned,
           CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(max(xn.exact_neighbors) AS BIGINT) AS exact_neighbors,
           round(sum(CASE WHEN e.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END) * 1.0
                 / max(xn.exact_neighbors), 4) AS recall
    FROM m
    LEFT JOIN exact3 e ON e.query_id = m.query_id
                      AND e.neighbor_id = m.neighbor_id
    CROSS JOIN xn
    GROUP BY m.method
    """


@register("ann_recall", _ann_recall_duck())
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of each ANN variant (ivf single-probe, multi-probe,
    label-free k-means) against the exact brute-force top-3. One base
    frame feeds every kernel: the label centroids and the query
    sample are built once for ivf and multiprobe, and recall_counts
    counts all three methods in one agg. At 100 TB this runs on a
    sampled query set exactly as here (10 queries), so cost is
    bounded by the ANN probes themselves."""
    base, q = _emb(spark, sf_dir)
    cent = _ivf_centroids(base)
    kcand, kcent = kmeans_buckets(base, _KMEANS_K, _KMEANS_ITERS)
    runs = [
        ("ivf", base, cent, 1),
        ("multiprobe", base, cent, 2),
        ("kmeans", kcand, kcent, 1),
    ]
    ann = None
    for name, cand, c, nprobe in runs:
        d = ivf_topk(cand, q, c, nprobe, 3).select(
            F.lit(name).alias("method"), "qid", "nid"
        )
        ann = d if ann is None else ann.unionByName(d)
    return recall_counts(ann, cosine_topk(base, q, 3), "method").select(
        "method",
        "queries",
        "returned",
        "hits",
        "exact_neighbors",
        # try_divide: a method with zero exact neighbors (tiny or
        # degenerate corpus) reports NULL recall, not a crash
        F.round(F.try_divide("hits", "exact_neighbors"), 4).alias("recall"),
    )


# --- embedding sanity + distribution drift ----------------------------------


@register(
    "embedding_norm_stats",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT len(embedding)) AS BIGINT)
             AS n_dims_distinct,
           CAST(min(len(embedding)) AS BIGINT) AS dim_min,
           CAST(max(len(embedding)) AS BIGINT) AS dim_max,
           round(min(nrm), 6) AS norm_min,
           round(max(nrm), 6) AS norm_max,
           round(avg(nrm), 6) AS norm_mean,
           CAST(sum(CASE WHEN nrm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_vectors
    FROM (
      SELECT embedding,
             sqrt(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column sanity suite in ONE scan: dimension
    consistency (a ragged embedding column breaks every downstream
    matmul), L2-norm range/mean, and zero-vector count (dead
    encoders). The validation-engine face of the multimodal payload
    checks, all JVM array expressions."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.select(
        F.size("embedding").alias("dim"),
        F.sqrt(_vec_dot(v, v)).alias("nrm"),
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("dim").alias("n_dims_distinct"),
        F.min("dim").cast("long").alias("dim_min"),
        F.max("dim").cast("long").alias("dim_max"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
        F.round(F.avg("nrm"), 6).alias("norm_mean"),
        F.sum(
            F.when(F.col("nrm") < 1e-12, 1).otherwise(0)
        ).alias("zero_vectors"),
    )


_W1_GRID = [i / 40 for i in range(41)]


@register(
    "wasserstein_qty_drift",
    f"""
    WITH qa AS (
      SELECT quantile_cont(l_quantity,
               {_W1_GRID}) AS q
      FROM lineitem WHERE l_returnflag = 'A'
    ),
    qb AS (
      SELECT quantile_cont(l_quantity,
               {_W1_GRID}) AS q
      FROM lineitem WHERE l_returnflag = 'N'
    )
    SELECT round(list_sum(list_transform(range(1, 42),
             i -> abs(qa.q[i] - qb.q[i]))) / 41.0, 6) AS w1
    FROM qa, qb
    """,
)
def wasserstein_qty_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between two cohorts'
    l_quantity distributions, via a 41-point interpolated-quantile
    grid: W1 = mean |Q_a(p) - Q_b(p)|. Complements PSI (binned) and
    KS (sup-norm) with the drift metric that weighs HOW FAR mass
    moved. One exact-percentile aggregation per cohort (both computed
    in the same job over one scan), then an O(grid) array fold."""
    li = _t(spark, sf_dir, "lineitem")
    grid = "array(" + ", ".join(str(p) for p in _W1_GRID) + ")"
    row = li.agg(
        F.expr(
            f"percentile(CASE WHEN l_returnflag = 'A' THEN l_quantity "
            f"END, {grid})"
        ).alias("qa"),
        F.expr(
            f"percentile(CASE WHEN l_returnflag = 'N' THEN l_quantity "
            f"END, {grid})"
        ).alias("qb"),
    )
    diff = F.zip_with("qa", "qb", lambda a, b: F.abs(a - b))
    return row.select(
        F.round(
            F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
            / len(_W1_GRID),
            6,
        ).alias("w1")
    )


# --- text analysis ----------------------------------------------------------


@register(
    "text_quality_scores",
    """
    SELECT doc_id,
           len(words) AS n_tokens,
           round((length(text) - len(words) + 1) * 1.0 / len(words), 4)
             AS mean_token_len,
           round(len(list_filter(words,
                 w -> w IN ('the', 'a', 'of', 'to', 'and'))) * 1.0
                 / len(words), 4) AS stopword_ratio,
           len(list_distinct(words)) AS distinct_tokens
    FROM (SELECT doc_id, text, string_split(text, ' ') AS words
          FROM documents)
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (token count, mean token length,
    stopword ratio, vocabulary size) — single JVM projection."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("words")
    )
    n = F.size(F.col("words"))
    stop = F.size(
        F.filter(
            F.col("words"),
            lambda w: w.isin("the", "a", "of", "to", "and"),
        )
    )
    return base.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round((F.length("text") - n + 1) / n, 4).alias(
            "mean_token_len"
        ),
        F.round(stop / n, 4).alias("stopword_ratio"),
        F.size(F.array_distinct(F.col("words"))).cast("long").alias("distinct_tokens"),
    )


@register(
    "token_count_by_source",
    """
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z0-9]{1,4}')))
             AS BIGINT) AS bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish (≤4-char chunk) token counts per source —
    the budget accounting pass of a training-data pipeline."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("ws_tokens"),
        F.sum(F.regexp_count(F.col("text"), F.lit("[a-z0-9]{1,4}"))).alias(
            "bpe_tokens"
        ),
    )


@register(
    "lang_id_heuristic",
    """
    SELECT doc_id,
           CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'profile_a'
                WHEN s2 >= s3 THEN 'profile_b'
                ELSE 'profile_c' END AS predicted,
           round(greatest(s1, s2, s3) * 1.0 / n, 4) AS confidence
    FROM (
      SELECT doc_id,
             len(words) AS n,
             len(list_filter(words, w -> w IN ('the', 'a'))) AS s1,
             len(list_filter(words, w -> w IN ('table', 'row', 'column')))
               AS s2,
             len(list_filter(words, w -> w IN ('fast', 'slow', 'big')))
               AS s3
      FROM (SELECT doc_id, string_split(text, ' ') AS words
            FROM documents)
    )
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-scoring language ID: count hits against marker-token
    profiles, argmax wins. (The synthetic corpus shares one vocabulary
    across langs, so profiles are synthetic too — the operator shape
    is what matters: one scan, no UDF.)"""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )

    def hits(*toks):
        return F.size(F.filter(F.col("words"), lambda w: w.isin(*toks)))

    scored = base.select(
        "doc_id",
        F.size(F.col("words")).alias("n"),
        hits("the", "a").alias("s1"),
        hits("table", "row", "column").alias("s2"),
        hits("fast", "slow", "big").alias("s3"),
    )
    return scored.select(
        "doc_id",
        F.when(
            (F.col("s1") >= F.col("s2")) & (F.col("s1") >= F.col("s3")),
            "profile_a",
        )
        .when(F.col("s2") >= F.col("s3"), "profile_b")
        .otherwise("profile_c")
        .alias("predicted"),
        F.round(
            F.greatest("s1", "s2", "s3") / F.col("n"), 4
        ).alias("confidence"),
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(lower(text)) AS content_fp,
           substr(md5(array_to_string(list_sort(list_distinct(
             string_split(lower(text), ' '))), ' ')), 1, 16) AS vocab_fp
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + vocabulary fingerprints (md5-based). The winnowing
    variant (Schleimer et al.) lives in functions/fingerprint.py and
    is oracle-checked by doc_winnow_fingerprints below."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_fp"),
        F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    F.array_sort(
                        F.array_distinct(
                            F.split(F.lower(F.col("text")), " ")
                        )
                    ),
                )
            ),
            1,
            16,
        ).alias("vocab_fp"),
    )


@register(
    "doc_winnow_fingerprints",
    """
    WITH grams AS (
      SELECT doc_id,
             list_transform(
               list_transform(
                 range(1, length(lower(text)) - 5),
                 i -> substr(md5(substr(lower(text), i, 7)), 1, 4)
               ),
               h -> ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 1)
             ) AS hashes
      FROM documents
      WHERE length(text) >= 7 AND doc_id % 10 = 0
    ),
    winnowed AS (
      SELECT doc_id,
             CASE WHEN len(hashes) >= 5 THEN
               list_sort(list_distinct(list_transform(
                 range(1, len(hashes) - 3),
                 j -> list_min(hashes[j : j + 4])
               )))
             ELSE [list_min(hashes)] END AS fps
      FROM grams
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS min_fp,
           CAST(list_max(fps) AS BIGINT) AS max_fp
    FROM winnowed
""",
)
def doc_winnow_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing fingerprints (functions/fingerprint.py: 16-bit
    k-gram hashes, k=7, window w=5 minima) summarized per doc — two
    projections, no UDF, no shuffle; the guarantee is that any
    >= 11-char shared substring yields a common fingerprint."""
    from .functions.fingerprint import winnow_fingerprints

    d = _t(spark, sf_dir, "documents").where(
        (F.length("text") >= 7) & (F.col("doc_id") % 10 == 0)
    )
    fps = winnow_fingerprints(d, "text", keep=["doc_id"])
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


@register(
    "doc_repetition_scores",
    """
    SELECT doc_id,
           CAST(len(tri) AS BIGINT) AS n_trigrams,
           CAST(len(list_distinct(tri)) AS BIGINT) AS distinct_trigrams,
           round(1.0 - len(list_distinct(tri)) * 1.0 / len(tri), 4)
             AS trigram_rep_ratio,
           round(1.0 - len(list_distinct(words)) * 1.0 / len(words), 4)
             AS token_rep_ratio
    FROM (
      SELECT doc_id, words,
             list_transform(
               range(len(words) - 2),
               i -> array_to_string(words[i + 1 : i + 3], ' ')
             ) AS tri
      FROM (SELECT doc_id, string_split(text, ' ') AS words
            FROM documents)
      WHERE len(words) >= 3
    )
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher/MassiveText-style
    repetition filter): duplicate-trigram and duplicate-token ratios
    per doc. Highly repetitive docs (boilerplate, keyword stuffing,
    generation loops) score near 1 and get dropped by a filter
    expectation downstream. Single projection, per-doc array work
    only — no shuffle, trivially partition-parallel at any scale."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    ).where(F.size("words") >= 3)
    base = base.withColumn(
        "tri",
        F.expr(
            "transform(sequence(0, size(words) - 3), "
            "i -> concat_ws(' ', slice(words, i + 1, 3)))"
        ),
    )
    n_tri = F.size("tri")
    d_tri = F.size(F.array_distinct(F.col("tri")))
    n_w = F.size("words")
    d_w = F.size(F.array_distinct(F.col("words")))
    return base.select(
        "doc_id",
        n_tri.cast("long").alias("n_trigrams"),
        d_tri.cast("long").alias("distinct_trigrams"),
        F.round(1.0 - d_tri / n_tri, 4).alias("trigram_rep_ratio"),
        F.round(1.0 - d_w / n_w, 4).alias("token_rep_ratio"),
    )


_CONTAM_BENCH_SOURCE = "src0"  # stand-in benchmark/eval split

_CONTAM_GRAMS_DUCK = """
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(len(words) - 4),
               i -> md5(array_to_string(words[i + 1 : i + 5], ' '))
             )) AS grams
      FROM (SELECT doc_id, source, string_split(text, ' ') AS words
            FROM documents)
      WHERE len(words) >= 5
"""


@register(
    "ngram_contamination",
    f"""
    WITH g AS ({_CONTAM_GRAMS_DUCK}),
    bench AS (
      SELECT DISTINCT unnest(grams) AS gram
      FROM g WHERE source = '{_CONTAM_BENCH_SOURCE}'
    ),
    corp AS (
      SELECT doc_id, source, unnest(grams) AS gram
      FROM g WHERE source <> '{_CONTAM_BENCH_SOURCE}'
    ),
    per_doc AS (
      SELECT c.doc_id, c.source,
             count(*) AS n,
             sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM corp c LEFT JOIN bench b ON c.gram = b.gram
      GROUP BY c.doc_id, c.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS contaminated_docs,
           CAST(sum(hits) AS BIGINT) AS hit_grams,
           CAST(sum(n) AS BIGINT) AS total_grams,
           round(sum(hits) * 1.0 / sum(n), 4) AS overlap_frac
    FROM per_doc
    GROUP BY source
    """,
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination accounting: 5-gram overlap between
    the corpus and a benchmark split (here source='src0' stands in
    for an eval set). Per source: docs checked, docs with any hit,
    and exact hit/total gram counts (integers, so the oracle compare
    is exact; the frac is one division of those sums).

    100 TB shape: the benchmark side of a decontamination pass is
    eval-set sized (tiny), so its distinct-gram set BROADCASTS and the
    corpus side is one scan + per-doc array work + map-side hash join
    — no corpus-sized shuffle. Gram identity is md5 of the joined
    window, so the broadcast carries fixed-width keys, not text."""
    d = _t(spark, sf_dir, "documents")
    # Gram construction is posexplode + 4 window leads per doc, NOT a
    # transform(sequence, i -> concat_ws(slice)) lambda: higher-order
    # array lambdas are interpreter-evaluated, and at sf0.1 the lambda
    # form measured 3.3 s vs 0.96 s for this whole query — one narrow
    # (doc_id, pos) sort buys fully-codegen'd gram assembly + md5.
    # Per-doc gram dedup (the lambda form's array_distinct) becomes a
    # hash groupBy on (doc_id, source, gram); docs under 5 words drop
    # out naturally (no w4). Output is row-identical to the lambda
    # form (verified at sf0.1).
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w0"),
    )
    g = (
        toks.select(
            "doc_id",
            "source",
            "w0",
            *[
                F.lead("w0", k).over(w_pos).alias(f"w{k}")
                for k in range(1, 5)
            ],
        )
        .where(F.col("w4").isNotNull())
        .select(
            "doc_id",
            "source",
            F.md5(
                F.concat_ws(" ", "w0", "w1", "w2", "w3", "w4")
            ).alias("gram"),
        )
        .groupBy("doc_id", "source", "gram")
        .agg(F.lit(1).alias("__one"))
    )
    bench = (
        g.where(F.col("source") == _CONTAM_BENCH_SOURCE)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corp = g.where(F.col("source") != _CONTAM_BENCH_SOURCE).select(
        "doc_id", "source", "gram"
    )
    per_doc = (
        corp.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("hits"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("hits") > 0).cast("int")).alias("contaminated_docs"),
        F.sum("hits").alias("hit_grams"),
        F.sum("n").alias("total_grams"),
        F.round(F.sum("hits") / F.sum("n"), 4).alias("overlap_frac"),
    )


@register(
    "split_fingerprint_overlap",
    r"""
    WITH fps AS (
      SELECT (CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 2)
               AS side,
             md5(text) AS fp
      FROM documents
    ),
    a AS (SELECT DISTINCT fp FROM fps WHERE side = 0),
    b AS (SELECT DISTINCT fp FROM fps WHERE side = 1),
    m AS (
      SELECT (SELECT count(*) FROM a) AS train_distinct,
             (SELECT count(*) FROM b) AS test_distinct,
             (SELECT count(*) FROM a JOIN b USING (fp))
               AS overlap_count,
             (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
               AS union_count
    )
    SELECT train_distinct, test_distinct, overlap_count, union_count,
           round(CAST(overlap_count AS DOUBLE) / union_count, 6)
             AS jaccard,
           round(CAST(overlap_count AS DOUBLE) / test_distinct, 6)
             AS contamination
    FROM m
    """,
)
def split_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test content-contamination at the whole-document level:
    distinct-fingerprint (md5 of text) overlap between a train split
    (even-numbered sources) and a test split (odd), measured with
    Datasketches THETA sketches — union, intersection, and per-side
    estimates all derived from ONE fixed-size sketch per side.

    100 TB shape: each side is one column-pruned scan building a
    map-side-combinable ~2^lg_k-entry sketch; the overlap needs NO
    distinct+join (whose exchange of distinct fingerprints would be
    the job at corpus scale) and the driver handles two sketch blobs.
    Theta sketches are EXACT below 2^lg_k retained entries (4096 at
    the default lg_k=12) — which covers the oracle at sf0.01/sf0.1 —
    and ~1.6% relative error above. Declarative twin:
    expect_column_distinct_overlap_with_reference_to_be_between
    (operators/referential.py). Ours; the reference has no
    cross-split expectation (closest: QueryExpectation SQL,
    expectation.py:2250-2352)."""
    d = _t(spark, sf_dir, "documents")
    side = (
        F.regexp_extract(F.col("source"), r"src(\d+)", 1).cast("int") % 2
    ).alias("side")
    sk = (
        d.select(side, F.md5(F.col("text")).alias("fp"))
        .groupBy("side")
        .agg(F.theta_sketch_agg("fp").alias("s"))
    )
    # one partition: theta_intersection_agg throws on empty partitions
    est = sk.coalesce(1).agg(
        F.theta_sketch_estimate(
            F.theta_union_agg(F.when(F.col("side") == 0, F.col("s")))
        ).alias("train_distinct"),
        F.theta_sketch_estimate(
            F.theta_union_agg(F.when(F.col("side") == 1, F.col("s")))
        ).alias("test_distinct"),
        F.theta_sketch_estimate(
            F.theta_intersection_agg("s")
        ).alias("overlap_count"),
        F.theta_sketch_estimate(F.theta_union_agg("s")).alias(
            "union_count"
        ),
    )
    return est.select(
        "train_distinct",
        "test_distinct",
        "overlap_count",
        "union_count",
        F.round(
            F.col("overlap_count").cast("double") / F.col("union_count"),
            6,
        ).alias("jaccard"),
        F.round(
            F.col("overlap_count").cast("double")
            / F.col("test_distinct"),
            6,
        ).alias("contamination"),
    )


# --- corpus hygiene gates ----------------------------------------------------
# The filter stages a web-scale pretraining pipeline runs before the
# mix/pack step: a C4/Gopher-style composite quality gate, a PII
# pattern scan, and sketch-based heavy-hitter detection. All are
# single-scan expression pipelines; heavy_hitters adds a bounded
# sketch pass so the exact recount only shuffles candidate keys.

# Thresholds tuned so each rule splits the synthetic corpus
# non-trivially at sf0.01 and sf0.1 (token-count p5=16/p50=55/p95=94,
# stopword-ratio p25~=0.04, top-token-share p75~=0.11/p95~=0.16).
# mean_token_len never bites on this vocabulary (all words 1-8 chars)
# but is kept because the real C4 rule set has it.
_C4_MIN_WORDS = 24
_C4_MIN_STOPWORD_RATIO = 0.03
_C4_MAX_TOP_TOKEN_SHARE = 0.125
_C4_MEAN_LEN_LO = 2.0
_C4_MEAN_LEN_HI = 10.0

_C4_FILTER_DUCK = f"""
    WITH w AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS words
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source,
             len(words) AS n,
             len(list_filter(words,
                 x -> x IN ('the', 'a', 'of', 'to', 'and'))) * 1.0
               / len(words) AS stop_ratio,
             (SELECT max(cnt) FROM (
                SELECT count(*) AS cnt FROM unnest(words) AS t(u)
                GROUP BY u)) * 1.0 / len(words) AS top_share,
             (length(text) - len(words) + 1) * 1.0 / len(words)
               AS mean_len
      FROM w
    ),
    flags AS (
      SELECT source,
             CASE WHEN n < {_C4_MIN_WORDS} THEN 1 ELSE 0 END AS f_words,
             CASE WHEN stop_ratio < {_C4_MIN_STOPWORD_RATIO}
                  THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN top_share > {_C4_MAX_TOP_TOKEN_SHARE}
                  THEN 1 ELSE 0 END AS f_top,
             CASE WHEN mean_len < {_C4_MEAN_LEN_LO}
                    OR mean_len > {_C4_MEAN_LEN_HI}
                  THEN 1 ELSE 0 END AS f_len
      FROM feats
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN f_words + f_stop + f_top + f_len = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(f_words) AS BIGINT) AS dropped_min_words,
           CAST(sum(f_stop) AS BIGINT) AS dropped_stopword,
           CAST(sum(f_top) AS BIGINT) AS dropped_top_share,
           CAST(sum(f_len) AS BIGINT) AS dropped_mean_len,
           round(sum(CASE WHEN f_words + f_stop + f_top + f_len = 0
                     THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS keep_rate
    FROM flags
    GROUP BY source
"""


@register("c4_quality_filter", _C4_FILTER_DUCK)
def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality gate (C4: Raffel et al. 2020
    §2.2; Gopher: Rae et al. 2021 table A1): per-source keep/drop
    accounting for min-word-count, stopword-ratio, max-single-token
    share, and mean-token-length rules. Rule counts are non-exclusive
    (a doc can trip several); `kept` is the all-rules-pass count.

    Scale shape: one scan, per-doc array work, one hash agg on
    `source`. The top-token share uses array_sort + an O(n) run-length
    fold instead of the O(n * distinct) nested-filter formulation —
    on real corpora distinct ~ n, so the nested form is quadratic in
    document length while this stays n log n."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "text",
        F.split(F.col("text"), " ").alias("words"),
    )
    n = F.size("words")
    stop_ratio = (
        F.size(
            F.filter(
                F.col("words"),
                lambda w: w.isin("the", "a", "of", "to", "and"),
            )
        )
        / n
    )
    # max run length over the sorted token array == max token count
    run_state = F.aggregate(
        F.array_sort("words"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                acc.best,
            ).alias("best"),
        ),
    )
    top_share = run_state.best / n
    mean_len = (F.length("text") - n + 1) / n
    flagged = base.select(
        "source",
        F.when(n < _C4_MIN_WORDS, 1).otherwise(0).alias("f_words"),
        F.when(stop_ratio < _C4_MIN_STOPWORD_RATIO, 1)
        .otherwise(0)
        .alias("f_stop"),
        F.when(top_share > _C4_MAX_TOP_TOKEN_SHARE, 1)
        .otherwise(0)
        .alias("f_top"),
        F.when(
            (mean_len < _C4_MEAN_LEN_LO) | (mean_len > _C4_MEAN_LEN_HI), 1
        )
        .otherwise(0)
        .alias("f_len"),
    )
    all_pass = F.when(
        F.col("f_words") + F.col("f_stop") + F.col("f_top") + F.col("f_len")
        == 0,
        1,
    ).otherwise(0)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(all_pass).alias("kept"),
        F.sum("f_words").alias("dropped_min_words"),
        F.sum("f_stop").alias("dropped_stopword"),
        F.sum("f_top").alias("dropped_top_share"),
        F.sum("f_len").alias("dropped_mean_len"),
        F.round(F.sum(all_pass) / F.count(F.lit(1)), 4).alias("keep_rate"),
    )



_PII_DUCK = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(length(text)) AS BIGINT) AS chars_scanned,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
             AS BIGINT) AS email_hits,
           CAST(sum(len(regexp_extract_all(text,
             '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))) AS BIGINT)
             AS phone_hits,
           CAST(sum(len(regexp_extract_all(text,
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))) AS BIGINT)
             AS ipv4_hits,
           CAST(sum(len(regexp_extract_all(text,
             '\\b\\d{3}-\\d{2}-\\d{4}\\b'))) AS BIGINT) AS ssn_hits,
           CAST(sum(CASE WHEN
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text,
               '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))
             + len(regexp_extract_all(text,
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))
             + len(regexp_extract_all(text,
               '\\b\\d{3}-\\d{2}-\\d{4}\\b')) > 0
             THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
    FROM documents
    GROUP BY source
"""


@register("pii_scan", _PII_DUCK)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern scan (email / phone / IPv4 / SSN match counts per
    source, plus docs-with-any-PII) — the redaction-audit pass of a
    web-scale pipeline. One scan, one hash agg; regexp_count stays in
    JVM codegen. The synthetic corpus is digit-free word salad, so
    the true hit counts here are zero — the per-source docs and
    chars_scanned columns keep the oracle comparison non-trivial, and
    tests/test_hygiene.py proves detection on a crafted corpus with
    known plants. Patterns live in PII_PATTERNS (shared with the
    expect_column_values_to_not_contain_pii face) and avoid
    lookarounds so Java regex and RE2 agree."""
    d = _t(spark, sf_dir, "documents")
    counts = {
        k: F.regexp_count(F.col("text"), F.lit(p))
        for k, p in PII_PATTERNS.items()
    }
    any_hit = None
    for c in counts.values():
        any_hit = c if any_hit is None else any_hit + c
    per_doc = d.select(
        "source",
        F.length("text").alias("chars"),
        *[c.alias(f"{k}_hits") for k, c in counts.items()],
        F.when(any_hit > 0, 1).otherwise(0).alias("has_pii"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("chars").alias("chars_scanned"),
        *[F.sum(f"{k}_hits").alias(f"{k}_hits") for k in PII_PATTERNS],
        F.sum("has_pii").alias("docs_with_pii"),
    )


_HH_TOPK = 20
_HH_CAPACITY = 256

_HH_DUCK = f"""
    SELECT word, cnt, rank
    FROM (
      SELECT word, cnt,
             row_number() OVER (ORDER BY cnt DESC, word) AS rank
      FROM (
        SELECT u AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM documents, unnest(string_split(text, ' ')) AS t(u)
        GROUP BY u
      )
    )
    WHERE rank <= {_HH_TOPK}
"""


@register("heavy_hitters", _HH_DUCK)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tokens by exact count, found with a two-pass
    sketch-then-recount plan (Misra-Gries 1982; the 'frequent items'
    pattern in the Datasketches library):

    pass 1 — a Misra-Gries summary of capacity m=256 per partition
    via mapInPandas (bounded state: O(m) per partition, no shuffle of
    token-level rows). The union of per-partition summaries provably
    contains every token with global count > N/m, because a token
    missed by every partition summary has per-partition count
    <= N_p/m which sums to <= N/m.

    pass 2 — exact recount restricted to the candidate set via a
    broadcast semi-join, then top-20 with a deterministic
    (count desc, word asc) tie-break. The final global window runs
    over <= m * partitions candidate aggregates — a deliberately tiny
    frame, not token-level data.

    Why not one groupBy: at 100 TB with a heavy-tailed key space,
    map-side combine stops helping (most keys are near-unique) and
    the exchange carries ~every token. The sketch pass bounds the
    exchange to <= m * partitions candidate rows, and the recount
    shuffles only candidate aggregates. On this corpus (vocab ~64,
    so every top-k count >> N/m) the candidate guarantee makes the
    result exactly equal to the naive top-k, which is what the
    DuckDB oracle computes."""
    import pandas as pd

    from .functions.mg import mg_update

    d = _t(spark, sf_dir, "documents").select("text")

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for toks in pdf["text"].str.split(" "):
                mg_update(counters, toks, _HH_CAPACITY)
        if counters:
            yield pd.DataFrame({"word": list(counters.keys())})

    candidates = d.mapInPandas(mg_partition, "word string").distinct()
    tokens = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    exact = (
        tokens.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _HH_TOPK)
        .select("word", "cnt", "rank")
    )


# --- training-mix construction ----------------------------------------------
# The composition step of a pretraining pipeline: deterministic
# per-source sampling toward a target mix, and greedy packing of
# documents into fixed-length context windows. Both are pure
# expression pipelines (one scan, hash aggs, no Python).

_SOURCE_MIX_DUCK = f"""
    SELECT source,
           round(min(rate_bp) / 10000.0, 4) AS target_rate,
           CAST(count(*) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN dv < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS sampled_docs,
           round(sum(CASE WHEN dv < rate_bp THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS achieved_rate
    FROM (
      SELECT source,
             {_hexval_sql_raw("sh", "duck")} % 5000 + 2500 AS rate_bp,
             {_hexval_sql_raw("dh", "duck")} % 10000 AS dv
      FROM (
        SELECT source,
               substr(md5(source), 1, 4) AS sh,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS dh
        FROM documents
      )
    )
    GROUP BY source
"""


@register("source_mix_sample", _SOURCE_MIX_DUCK)
def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixing — the step that turns a
    raw corpus into a training mix with target per-source rates.

    Each source's target rate is derived from md5(source) (basis
    points in [2500, 7500)), and a document is kept when the 16-bit
    value of md5(doc_id)'s prefix, taken modulo 10000, falls under
    it: content-addressed sampling, so the SAME rows are selected on
    every run, every engine, and every cluster size — no RNG state
    to coordinate across executors. The modulo folds 65536 values
    onto 10000, so the keep probability is biased upward (about
    0.534 at a 0.5 target). Reports achieved vs target rate per
    source (the no-silent-caps accounting for the sampler itself).

    100 TB shape: one column-pruned scan; both hashes are projected
    ONCE and the 16-bit arithmetic reads the projected prefix (the
    dedup_simhash lesson: Spark does not CSE md5 across expression
    bodies). Map-side-partial hash agg on ~|sources| keys — nothing
    else crosses the wire. The reference's hash sampler
    (execution_engine/split_and_sample/sparkdf_data_sampler.py:
    142-200 sample_using_hash) hashes row-by-row with a Python UDF
    (hashlib via F.udf); this is the same contract, JVM-side, with
    per-group rates instead of a single hash-suffix match."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.substring(F.md5(F.col("source")), 1, 4).alias("sh"),
        F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 4
        ).alias("dh"),
    )
    lv = d.select(
        "source",
        (F.expr(_hexval_sql_raw("sh", "spark")) % 5000 + 2500).alias(
            "rate_bp"
        ),
        (F.expr(_hexval_sql_raw("dh", "spark")) % 10000).alias("dv"),
    )
    kept = F.sum(F.when(F.col("dv") < F.col("rate_bp"), 1).otherwise(0))
    return lv.groupBy("source").agg(
        F.round(F.min("rate_bp") / 10000.0, 4).alias("target_rate"),
        F.count(F.lit(1)).alias("total_docs"),
        kept.cast("bigint").alias("sampled_docs"),
        F.round(kept / F.count(F.lit(1)), 4).alias("achieved_rate"),
    )


def mix_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    targets: Dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-group sampling: keep each row iff the 16-bit
    value of md5(key)'s prefix is under rate * 65536 for its group's
    target rate — content-addressed, so the selected set is identical
    under retries, speculation, and any cluster size, with zero
    coordination (no RNG seed schedule, no sampled index). This is
    NOT the rule source_mix_sample audits (that query keeps
    prefix % 10000 < rate in basis points), so at the same rate the
    two select different rows. `targets` maps group value -> keep
    rate in [0, 1]; unlisted groups use `default_rate`. One
    projection + filter: fully pushed into the scan stage, no
    shuffle. Validate the result with
    expect_column_value_share_to_match_targets."""
    rate = F.lit(float(default_rate))
    for g, r in targets.items():
        rate = F.when(
            F.col(group_col) == F.lit(g), F.lit(float(r))
        ).otherwise(rate)
    dv = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10
    ).cast("long")
    return df.where(dv < rate * 65536)


def pack_assignments(
    df: DataFrame,
    id_col: str,
    tokens_col,
    group_col: str = "source",
    ctx: int = 512,
    shards: int = 8,
) -> DataFrame:
    """The production face of seq_packing_stats: per-document packing
    assignment — which fixed-`ctx`-token window each document starts
    in, at which token offset, and whether it straddles a window
    boundary. Windows are packed greedily in `id_col` order within a
    deterministic (group, id % shards) shard, so assignments are
    reproducible on any cluster size while no window partition ever
    serializes a whole group through one task. `tokens_col` is a
    column name or Column of per-row token counts.

    Output: the input columns plus shard, start_tok (token offset of
    the document within its shard's stream), bin_id (the window the
    document starts in, unique within (group, shard)), and
    spans_boundary. Downstream packers concat documents per
    (group, shard, bin_id) and split/mask at the boundaries flagged."""
    tokens = (
        F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    )
    base = df.withColumn(
        "shard", F.pmod(F.col(id_col), F.lit(int(shards)))
    ).withColumn("__tok", tokens)
    w = Window.partitionBy(group_col, "shard").orderBy(id_col)
    cum = F.sum("__tok").over(w)
    start = cum - F.col("__tok")
    return (
        base.withColumn("start_tok", start)
        .withColumn(
            "bin_id", F.floor(F.col("start_tok") / F.lit(int(ctx)))
        )
        .withColumn(
            "spans_boundary",
            F.floor(F.col("start_tok") / F.lit(int(ctx)))
            != F.floor((cum - 1) / F.lit(int(ctx))),
        )
        .drop("__tok")
    )


_PACK_CTX = 512
_PACK_SHARDS = 8

_SEQ_PACKING_DUCK = f"""
    SELECT source,
           CAST(sum(docs) AS BIGINT) AS total_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST(sum(bins) AS BIGINT) AS n_bins,
           round(sum(tok) * 1.0 / (sum(bins) * {_PACK_CTX}), 4)
             AS fill_ratio,
           CAST(sum(span) AS BIGINT) AS spanning_docs
    FROM (
      SELECT source, shard,
             count(*) AS docs,
             sum(tokens) AS tok,
             CAST(ceil(sum(tokens) * 1.0 / {_PACK_CTX}) AS BIGINT)
               AS bins,
             sum(CASE WHEN (cum - tokens) // {_PACK_CTX}
                        != (cum - 1) // {_PACK_CTX}
                      THEN 1 ELSE 0 END) AS span
      FROM (
        SELECT source, shard, tokens,
               sum(tokens) OVER (
                 PARTITION BY source, shard ORDER BY doc_id
               ) AS cum
        FROM (
          SELECT source, doc_id, doc_id % {_PACK_SHARDS} AS shard,
                 len(string_split(text, ' ')) AS tokens
          FROM documents
        )
      )
      GROUP BY source, shard
    )
    GROUP BY source
"""


@register("seq_packing_stats", _SEQ_PACKING_DUCK)
def seq_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing accounting: documents are concatenated
    in doc_id order into fixed 512-token context windows; the report
    says how many windows each source fills, the fill ratio (token
    utilization), and how many documents straddle a window boundary
    (candidates for truncation or attention-mask segmentation
    downstream).

    Packing is per (source, doc_id % 8) shard — exactly how a
    distributed packer bounds its window-partition size: a single
    per-source ordering would serialize each source through one task
    at corpus scale, while deterministic shards keep the window
    partitions parallel AND reproducible (same bins on any cluster
    size). 100 TB shape: one scan, per-shard window cumsum (running
    sum over bounded partitions), then two levels of
    map-side-partial hash agg."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("tokens"),
    )
    w = Window.partitionBy("source", "shard").orderBy("doc_id")
    cum = d.select(
        "source",
        "shard",
        "tokens",
        F.sum("tokens").over(w).alias("cum"),
    )
    span = F.floor(
        (F.col("cum") - F.col("tokens")) / _PACK_CTX
    ) != F.floor((F.col("cum") - 1) / _PACK_CTX)
    per_shard = cum.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("tokens").alias("tok"),
        F.ceil(F.sum("tokens") / F.lit(float(_PACK_CTX)))
        .cast("bigint")
        .alias("bins"),
        F.sum(span.cast("int")).alias("span"),
    )
    return per_shard.groupBy("source").agg(
        F.sum("docs").cast("bigint").alias("total_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.sum("bins").cast("bigint").alias("n_bins"),
        F.round(
            F.sum("tok") / (F.sum("bins") * _PACK_CTX), 4
        ).alias("fill_ratio"),
        F.sum("span").cast("bigint").alias("spanning_docs"),
    )


# --- cross-modal (image + caption) dedup -------------------------------------
# The LAION-style pair-level rule: two image+caption records are
# duplicates when EITHER modality matches — the image is a phash
# near-dup OR the caption is a verified text near-dup. One keep/drop
# table over the union graph, plus modality accounting for the edges.

# NOTE: each side keeps its own WITH inside a FROM-subquery — DuckDB
# rejects a multi-CTE nested WITH inside a recursive CTE element.
_CROSSMODAL_CAND_DUCK = f"""
    SELECT doc_a, doc_b FROM ({_LSH_VERIFIED_DUCK})
    UNION
    SELECT doc_a, doc_b FROM ({_phash_duck_sql()})
"""


def _crossmodal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ph = phash_hamming_neardup(spark, sf_dir).select("doc_a", "doc_b")
    return tx.union(ph).distinct()


@register(
    "crossmodal_dedup_clusters",
    _clusters_duck_sql(_CROSSMODAL_CAND_DUCK),
)
def crossmodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup endgame: connected components + canonical
    keeper over the UNION of verified text near-dup edges
    (lsh_verified_pairs) and phash hamming image edges
    (phash_hamming_neardup) — a record is dropped when any duplicate
    path, textual or visual, connects it to an earlier keeper. This
    is how image+caption corpora are actually deduplicated (LAION
    dedups on image hash and caption independently): deduping either
    modality alone keeps pairs whose OTHER modality is copied.

    100 TB shape: both edge generators are the already-audited capped
    LSH pipelines; the union graph is O(dups-by-either-modality)
    edges, and the clustering is the same bounded min-label
    propagation / driver union-find machinery as dedup_clusters,
    against the same exact recursive-CTE closure oracle."""
    return _cluster_keep_table(
        spark, sf_dir, _crossmodal_pairs(spark, sf_dir)
    )


@register(
    "crossmodal_edge_stats",
    f"""
    WITH txp AS (SELECT DISTINCT doc_a, doc_b FROM ({_LSH_VERIFIED_DUCK})),
    php AS (SELECT DISTINCT doc_a, doc_b FROM ({_phash_duck_sql()}))
    SELECT
      CAST(count(CASE WHEN t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL
                 THEN 1 END) AS BIGINT) AS both_modalities,
      CAST(count(CASE WHEN t.doc_a IS NOT NULL AND p.doc_a IS NULL
                 THEN 1 END) AS BIGINT) AS text_only,
      CAST(count(CASE WHEN t.doc_a IS NULL AND p.doc_a IS NOT NULL
                 THEN 1 END) AS BIGINT) AS image_only
    FROM txp t FULL OUTER JOIN php p
      ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    """,
)
def crossmodal_edge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality accounting for the cross-modal dedup graph: how many
    duplicate edges were found by both modalities, by text only, and
    by image only — the no-silent-merge mirror of
    crossmodal_dedup_clusters (an operator sees WHICH signal drove
    the drops; image_only >> text_only on a corpus of re-captioned
    copies, the reverse on re-encoded images). Full outer join of the
    two slim edge lists (id pairs only), then one global agg."""
    tx = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ph = phash_hamming_neardup(spark, sf_dir).select("doc_a", "doc_b")
    t = tx.distinct().select(
        F.col("doc_a").alias("ta"), F.col("doc_b").alias("tb")
    )
    p = ph.distinct().select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    j = t.join(
        p,
        (F.col("ta") == F.col("pa")) & (F.col("tb") == F.col("pb")),
        "full_outer",
    )
    in_t, in_p = F.col("ta").isNotNull(), F.col("pa").isNotNull()
    return j.agg(
        F.count(F.when(in_t & in_p, 1)).alias("both_modalities"),
        F.count(F.when(in_t & ~in_p, 1)).alias("text_only"),
        F.count(F.when(~in_t & in_p, 1)).alias("image_only"),
    )


# --- model-based quality: corpus unigram LM ---------------------------------
# The CCNet/RedPajama "perplexity filter" shape (Wenzek et al. 2020
# §4.3) with the LM fit on the corpus itself: pass 1 estimates token
# probabilities, pass 2 scores every document by mean negative
# log-probability. Tokens outside the top-V vocabulary get a fixed
# OOV mass — the cap that bounds the broadcast table at corpus scale.

_LM_VOCAB_V = 20  # scaled to the synthetic corpus (vocab 31); ~1e5 real
_LM_OOV_MASS = 0.5
_LM_NLL_MAX = 6.0

_UNIGRAM_LM_DUCK = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ),
    total AS (SELECT sum(cnt) * 1.0 AS total FROM counts),
    vocab AS (
      SELECT tok, cnt FROM counts
      ORDER BY cnt DESC, tok LIMIT {_LM_VOCAB_V}
    ),
    lp AS (
      SELECT v.tok, ln(v.cnt / t.total) AS lp FROM vocab v, total t
    ),
    scored AS (
      SELECT s.doc_id,
             -coalesce(l.lp, ln({_LM_OOV_MASS} / t.total)) AS nll,
             CASE WHEN l.lp IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks s LEFT JOIN lp l ON s.tok = l.tok, total t
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS oov_tokens,
             round(avg(nll), 4) AS mean_nll
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, oov_tokens, mean_nll,
           CAST(CASE WHEN mean_nll > {_LM_NLL_MAX} THEN 1 ELSE 0 END
                AS INTEGER) AS low_quality
    FROM perdoc
"""


@register("unigram_logprob_quality", _UNIGRAM_LM_DUCK)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: fit a top-V unigram LM on the
    corpus (pass 1), score every document by mean token negative
    log-probability (pass 2), flag docs above the NLL threshold.
    CCNet (Wenzek et al. 2020) uses a pretrained KenLM; self-fitting
    keeps the operator dependency-free with the same two-pass shape.

    100 TB shape: pass 1 is explode -> map-side-combined hash agg;
    the aggregated count table is persisted so the total-mass agg and
    the top-V selection (TakeOrderedAndProject — per-partition top-V,
    never a full sort) read ONE materialization instead of re-running
    the corpus shuffle. The V-row logprob table and the 1-row total
    broadcast to pass 2, whose per-token left join stays in the scan
    stage — the only corpus-wide exchange in the whole plan is the
    pass-1 token agg and the final per-doc agg. OOV tokens cost
    ln(OOV_MASS/total): out-of-vocabulary docs score high instead of
    disappearing (no silent drops). The flag is computed from the
    ROUNDED mean so both engines decide identically at the boundary."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.persist()
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    vocab = counts.orderBy(F.col("cnt").desc(), "tok").limit(_LM_VOCAB_V)
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt") / F.col("total")).alias("lp")
    )
    oov_nll = -F.log(F.lit(_LM_OOV_MASS) / F.col("total"))
    scored = (
        toks.join(F.broadcast(lp), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce(-F.col("lp"), oov_nll).alias("nll"),
            F.when(F.col("lp").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.round(F.avg("nll"), 4).alias("mean_nll"),
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        "mean_nll",
        F.when(F.col("mean_nll") > _LM_NLL_MAX, 1)
        .otherwise(0)
        .cast("int")
        .alias("low_quality"),
    )


# --- image quality gate ------------------------------------------------------
# The image-axis twin of c4_quality_filter: LAION-style metadata
# gates (min side, aspect ratio, format whitelist, caption length —
# Schuhmann et al. 2021 §2.2 filter the crawl exactly this way)
# applied before any byte is decoded. Image metadata is derived
# deterministically from doc_id in BOTH dialects so the oracle runs
# on the shared parquet corpus; image_gate_flags below is the
# production face over a real (w, h, fmt, caption) table.

_IMG_MIN_SIDE = 16
_IMG_MAX_ASPECT = 2.5
_IMG_CAPTION_MIN = 100
_IMG_CAPTION_MAX = 450
_IMG_FORMATS = ("jpeg", "png", "webp")


def _image_meta_sql() -> Tuple[str, str, str]:
    """(w, h, fmt) expressions over a documents row — identical text
    in Spark SQL and DuckDB (integer %, CASE)."""
    w = "(8 * (1 + doc_id % 6))"
    h = "(8 * (1 + (doc_id % 17) % 6))"
    fmt = (
        "(CASE WHEN doc_id % 29 < 13 THEN 'jpeg' "
        "WHEN doc_id % 29 < 21 THEN 'png' "
        "WHEN doc_id % 29 < 26 THEN 'webp' "
        "WHEN doc_id % 29 < 28 THEN 'gif' ELSE 'bmp' END)"
    )
    return w, h, fmt


def _image_gate_duck() -> str:
    w, h, fmt = _image_meta_sql()
    fmts = ", ".join(f"'{f}'" for f in _IMG_FORMATS)
    return f"""
    WITH meta AS (
      SELECT source, {w} AS w, {h} AS h, {fmt} AS fmt, n_chars
      FROM documents
    ),
    flags AS (
      SELECT source,
             CASE WHEN least(w, h) < {_IMG_MIN_SIDE} THEN 1 ELSE 0 END
               AS f_side,
             CASE WHEN greatest(w, h) * 1.0 / least(w, h)
                       > {_IMG_MAX_ASPECT} THEN 1 ELSE 0 END AS f_aspect,
             CASE WHEN fmt NOT IN ({fmts}) THEN 1 ELSE 0 END AS f_fmt,
             CASE WHEN n_chars < {_IMG_CAPTION_MIN}
                    OR n_chars > {_IMG_CAPTION_MAX}
                  THEN 1 ELSE 0 END AS f_cap
      FROM meta
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN f_side + f_aspect + f_fmt + f_cap = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(f_side) AS BIGINT) AS dropped_min_side,
           CAST(sum(f_aspect) AS BIGINT) AS dropped_aspect,
           CAST(sum(f_fmt) AS BIGINT) AS dropped_fmt,
           CAST(sum(f_cap) AS BIGINT) AS dropped_caption,
           round(sum(CASE WHEN f_side + f_aspect + f_fmt + f_cap = 0
                     THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS keep_rate
    FROM flags
    GROUP BY source
"""


def image_gate_exprs(
    w: Column,
    h: Column,
    fmt: Column,
    cap_len: Column,
    min_side: int = _IMG_MIN_SIDE,
    max_aspect: float = _IMG_MAX_ASPECT,
    formats: Tuple[str, ...] = _IMG_FORMATS,
    caption_chars: Tuple[int, int] = (_IMG_CAPTION_MIN, _IMG_CAPTION_MAX),
) -> Tuple[Column, Column, Column, Column]:
    """The image gate's rules, once: (f_side, f_aspect, f_fmt, f_cap)
    boolean Columns, true where a row FAILS the rule and NULL where
    its inputs are. Callers choose how NULL counts."""
    # least/greatest skip NULL, so the side rules test each side: a
    # missing side leaves them NULL instead of judging the other alone
    return (
        (w < min_side) | (h < min_side),
        # try_divide: a zero side must fail f_side, not abort the job
        # under ANSI division
        F.when(
            w.isNotNull() & h.isNotNull(),
            F.try_divide(F.greatest(w, h), F.least(w, h)) > max_aspect,
        ),
        ~fmt.isin(*formats),
        (cap_len < caption_chars[0]) | (cap_len > caption_chars[1]),
    )


def image_gate_flags(
    df: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    fmt_col: str = "fmt",
    caption_col: str = "caption",
    min_side: int = _IMG_MIN_SIDE,
    max_aspect: float = _IMG_MAX_ASPECT,
    formats: Tuple[str, ...] = _IMG_FORMATS,
    caption_chars: Tuple[int, int] = (_IMG_CAPTION_MIN, _IMG_CAPTION_MAX),
) -> DataFrame:
    """Production face of image_quality_gate: per-row boolean gate
    flags + overall `keep` over a real image table in the engine's
    target shape (image_id, bytes, w, h, fmt, caption, phash). Pure
    metadata expressions (image_gate_exprs) — one projection, no
    decode, no shuffle — so the gate fuses into whatever scan feeds
    it and drops rows BEFORE any byte-level work (decode checks,
    phash, dedup)."""
    cap_len = F.length(F.coalesce(F.col(caption_col), F.lit("")))
    flags = image_gate_exprs(
        F.col(w_col),
        F.col(h_col),
        F.col(fmt_col),
        cap_len,
        min_side,
        max_aspect,
        formats,
        caption_chars,
    )
    # every flag coalesces NULL -> True (fail-closed), mirroring
    # compile_metadata_quality_gate: a NULL dimension/format row must
    # be dropped, and `keep` must be a real boolean, never NULL
    # (~(False | NULL) is NULL, which a downstream filter would treat
    # as drop but a negated filter would too — ambiguity removed here)
    f_side, f_aspect, f_fmt, f_cap = [
        F.coalesce(f, F.lit(True)) for f in flags
    ]
    return df.select(
        "*",
        f_side.alias("f_min_side"),
        f_aspect.alias("f_aspect"),
        f_fmt.alias("f_fmt"),
        f_cap.alias("f_caption"),
        (~(f_side | f_aspect | f_fmt | f_cap)).alias("keep"),
    )


@register("image_quality_gate", _image_gate_duck())
def image_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image metadata gate, per-source accounting: docs
    dropped by min-side, aspect-ratio, format-whitelist and
    caption-length rules, with non-exclusive rule counts and the
    all-rules-pass keep rate (same contract as c4_quality_filter).
    The rules are image_gate_exprs with ``n_chars`` as the caption
    length.

    100 TB shape: one column-pruned scan (doc_id, source, n_chars —
    the text column is never read), a handful of integer/CASE
    expressions, one map-side-partial hash agg on ~|sources| keys.
    Metadata gates run BEFORE decode in a real pipeline because they
    cost ~nothing per row and typically drop 10-50% of a crawl —
    image_gate_flags is that per-row face."""
    w, h, fmt = _image_meta_sql()
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(w).alias("w"),
        F.expr(h).alias("h"),
        F.expr(fmt).alias("fmt"),
        "n_chars",
    )
    flags = image_gate_exprs(
        F.col("w"), F.col("h"), F.col("fmt"), F.col("n_chars")
    )
    names = ("f_side", "f_aspect", "f_fmt", "f_cap")
    flagged = d.select(
        "source",
        *[F.when(f, 1).otherwise(0).alias(n) for f, n in zip(flags, names)],
    )
    all_pass = F.when(
        F.col("f_side") + F.col("f_aspect") + F.col("f_fmt")
        + F.col("f_cap")
        == 0,
        1,
    ).otherwise(0)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(all_pass).alias("kept"),
        F.sum("f_side").alias("dropped_min_side"),
        F.sum("f_aspect").alias("dropped_aspect"),
        F.sum("f_fmt").alias("dropped_fmt"),
        F.sum("f_cap").alias("dropped_caption"),
        F.round(F.sum(all_pass) / F.count(F.lit(1)), 4).alias(
            "keep_rate"
        ),
    )


# --- tokenizer fertility + dedup cluster accounting --------------------------


@register(
    "token_fertility_by_lang",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           round(sum(n_chars) * 1.0
                 / sum(len(string_split(text, ' '))), 4)
             AS chars_per_token,
           round(sum(len(string_split(text, ' '))) * 1.0 / count(*), 4)
             AS tokens_per_doc
    FROM documents
    GROUP BY lang
    """,
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: chars-per-token and tokens-per-doc
    by language — the multilingual budget check (a tokenizer whose
    fertility doubles on some language silently halves that
    language's effective context). One scan, one ~|langs|-key hash
    agg; the token counter is the whitespace tokenizer shared with
    token_count_by_source."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.col("text"), " "))
    per = d.select("lang", ntok.alias("ntok"), "n_chars")
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ntok").alias("ws_tokens"),
        F.sum("n_chars").alias("chars"),
        F.round(F.sum("n_chars") / F.sum("ntok"), 4).alias(
            "chars_per_token"
        ),
        F.round(F.sum("ntok") / F.count(F.lit(1)), 4).alias(
            "tokens_per_doc"
        ),
    )


@register(
    "dedup_cluster_sizes",
    f"""
    WITH cl AS ({_CLUSTERS_DUCK})
    SELECT cluster_size,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clusters,
           CAST(count(*) AS BIGINT) AS docs
    FROM cl
    GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the text dedup endgame — the shape
    report an operator reads before trusting a dedup pass (a single
    giant cluster means a degenerate boilerplate key; millions of
    pairs means the threshold is too loose). Counts clusters by
    counting keepers (exactly one per cluster), so the histogram
    needs no distinct over cluster ids — one hash agg over the
    keep/drop table of dedup_clusters."""
    cl = dedup_clusters(spark, sf_dir)
    return cl.groupBy("cluster_size").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clusters"),
        F.count(F.lit(1)).alias("docs"),
    )


# =============================================================================
# 9b. Corpus audits: corpus-wide duplicate-segment accounting, per-
#     source unigram divergence, cross-split image leakage, and
#     phash bit-balance — the audit reports a pipeline reads before
#     trusting its dedup keys, its source mix, and its eval split.
# =============================================================================

_SEG_LEN = 8  # tokens per non-overlapping dedup segment


def segment_instances(
    df: DataFrame, id_cols: List[str], text_col: str, seg_len: int
) -> DataFrame:
    """(h, *id_cols, c): h is the md5 of a non-overlapping
    ``seg_len``-token segment of ``text_col`` (split on ' '), c its
    count within the row keyed by ``id_cols``. Segments are array
    slices per row (no shuffle), hashed AFTER the explode so md5
    stays in whole-stage codegen."""
    words = df.select(*id_cols, F.split(F.col(text_col), " ").alias("w"))
    inst = (
        words.where(F.size("w") >= seg_len)
        .select(
            *id_cols,
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(floor(size(w) "
                    f"/ {seg_len}) AS INT) - 1), "
                    f"i -> concat_ws(' ', slice(w, "
                    f"i * {seg_len} + 1, {seg_len})))"
                )
            ).alias("s"),
        )
        .select(*id_cols, F.md5("s").alias("h"))
    )
    return inst.groupBy("h", *id_cols).agg(F.count(F.lit(1)).alias("c"))


def segment_dup_counts(inst: DataFrame, *by: str) -> DataFrame:
    """(*by, segs, dups) from segment_instances rows: instances per
    ``by`` group, and those whose hash occurs in at least two rows
    (within-row repetition never counts). The rows per hash are a
    window count over the instances, not a join with their own
    per-hash agg: pruning makes the two branches of such a join
    differ, so they share no exchange and the input is read twice."""
    nrows = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        inst.withColumn("nrows", nrows)
        .groupBy(*by)
        .agg(
            F.sum("c").alias("segs"),
            F.sum(
                F.when(F.col("nrows") >= 2, F.col("c")).otherwise(0)
            ).alias("dups"),
        )
    )


_SEGMENT_DEDUP_DUCK = f"""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS words
      FROM documents
    ),
    seg AS (
      SELECT doc_id, source, md5(s) AS h
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(len(words) // {_SEG_LEN}),
                 i -> array_to_string(
                        words[i * {_SEG_LEN} + 1 : i * {_SEG_LEN}
                              + {_SEG_LEN}], ' '))) AS s
        FROM w WHERE len(words) >= {_SEG_LEN})
    ),
    g1 AS (
      SELECT h, doc_id, source, count(*) AS c
      FROM seg GROUP BY h, doc_id, source
    ),
    hd AS (SELECT h, count(*) AS ndocs FROM g1 GROUP BY h),
    perdoc AS (
      SELECT g1.doc_id, g1.source,
             sum(c) AS segs,
             sum(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS dups
      FROM g1 JOIN hd ON g1.h = hd.h
      GROUP BY g1.doc_id, g1.source
    ),
    psrc AS (
      SELECT source,
             count(*) AS docs_with_segments,
             sum(segs) AS segments,
             sum(dups) AS dup_segments,
             sum(CASE WHEN dups * 2 > segs THEN 1 ELSE 0 END)
               AS docs_over_half
      FROM perdoc GROUP BY source
    ),
    src AS (SELECT source, count(*) AS docs FROM documents
            GROUP BY source)
    SELECT src.source,
           CAST(docs AS BIGINT) AS docs,
           CAST(coalesce(docs_with_segments, 0) AS BIGINT)
             AS docs_with_segments,
           CAST(coalesce(segments, 0) AS BIGINT) AS segments,
           CAST(coalesce(dup_segments, 0) AS BIGINT) AS dup_segments,
           CASE WHEN coalesce(segments, 0) > 0
                THEN floor(dup_segments * 10000.0 / segments) / 10000
                ELSE 0.0 END AS dup_rate,
           CAST(coalesce(docs_over_half, 0) AS BIGINT)
             AS docs_over_half
    FROM src LEFT JOIN psrc ON src.source = psrc.source
"""


@register("segment_dedup_stats", _SEGMENT_DEDUP_DUCK)
def segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-segment accounting (the RefinedWeb /
    CCNet exact-substring-dedup audit at segment granularity): split
    every document into non-overlapping 8-token segments, hash each,
    and count — per source — how many segment instances also occur in
    at least one OTHER document, plus the docs whose majority of
    segments are duplicated (the rows an exact-substring dedup pass
    would gut). Within-doc repetition is deliberately excluded (that
    is doc_repetition_scores' job): a segment counts as duplicated
    only when >= 2 distinct docs carry it.

    100 TB shape: segment_instances + segment_dup_counts, the kernels
    expect_column_duplicate_segment_rate_to_be_between also calls: a
    hash agg on (16-byte hash, doc) keys, then a per-hash window count
    over its output, so `text` is tokenized, exploded and hashed in
    one FileScan. No driver state; the per-source report is a
    ~|sources|-row final agg. The reference has no corpus-dedup
    audit; expectation-parity anchor for the accounting style:
    unexpected-count fractions in map metrics
    (great_expectations/expectations/metrics/map_metric_provider.py).
    """
    d = _t(spark, sf_dir, "documents")
    perdoc = segment_dup_counts(
        segment_instances(d, ["doc_id", "source"], "text", _SEG_LEN),
        "doc_id",
        "source",
    )
    psrc = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_with_segments"),
        F.sum("segs").alias("segments"),
        F.sum("dups").alias("dup_segments"),
        F.sum(
            F.when(F.col("dups") * 2 > F.col("segs"), 1).otherwise(0)
        ).alias("docs_over_half"),
    )
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("docs"))
    j = src.join(psrc, "source", "left")
    return j.select(
        "source",
        "docs",
        F.coalesce("docs_with_segments", F.lit(0)).alias(
            "docs_with_segments"
        ),
        F.coalesce("segments", F.lit(0)).alias("segments"),
        F.coalesce("dup_segments", F.lit(0)).alias("dup_segments"),
        F.when(
            F.coalesce("segments", F.lit(0)) > 0,
            F.floor(F.col("dup_segments") * 10000.0 / F.col("segments"))
            / 10000,
        )
        .otherwise(F.lit(0.0))
        .alias("dup_rate"),
        F.coalesce("docs_over_half", F.lit(0)).alias("docs_over_half"),
    )


def _source_divergence_duck() -> str:
    p = "(c * 1.0 / st)"
    q = "(g * 1.0 / gt)"
    m = f"(({p} + {q}) / 2)"
    m0 = f"((coalesce(c, 0) * 1.0 / st + {q}) / 2)"
    return f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    sc AS (SELECT source, tok, count(*) AS c FROM toks
           GROUP BY source, tok),
    g AS (SELECT tok, sum(c) AS g FROM sc GROUP BY tok),
    gt AS (SELECT sum(g) AS gt FROM g),
    st AS (SELECT source, sum(c) AS st FROM sc GROUP BY source),
    grid AS (SELECT st.source, st.st, g.tok, g.g, gt.gt
             FROM st, g, gt),
    j AS (
      SELECT grid.source, grid.st, grid.tok, grid.g, grid.gt, sc.c
      FROM grid LEFT JOIN sc
        ON grid.source = sc.source AND grid.tok = sc.tok
    )
    SELECT source,
           CAST(st AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS src_vocab,
           CAST(count(*) AS BIGINT) AS vocab,
           round(0.5 * sum(CASE WHEN c IS NOT NULL
                           THEN {p} * ln({p} / {m}) ELSE 0 END)
               + 0.5 * sum({q} * ln({q} / {m0})), 6) AS jsd
    FROM j
    GROUP BY source, st
"""


@register("source_token_divergence", _source_divergence_duck())
def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Jensen-Shannon divergence (nats) against
    the corpus-wide token distribution — the mix-drift fingerprint a
    pipeline monitors per ingest source: a source whose JSD jumps has
    changed register (spam burst, language shift, template flood)
    even when its volume and length stats look flat.

    100 TB shape: ONE corpus-wide exchange — the (source, token)
    hash agg — which is persisted and reused by the global-vocab
    agg, the per-source totals, and the probability join; everything
    downstream operates on |sources| x |vocab| rows (vocab is the
    aggregated token table, top-V-boundable the same way
    unigram_logprob_quality bounds its LM). The full-support grid
    (broadcast vocab x source totals, left join of observed counts)
    makes the absent-token q*ln(2) mass explicit instead of silently
    truncating KL to the observed support."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    sc = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    g = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    gt = g.agg(F.sum("g").alias("gt"))
    st = sc.groupBy("source").agg(F.sum("c").alias("st"))
    grid = st.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(gt))
    j = grid.join(sc, ["source", "tok"], "left")
    p = F.col("c") / F.col("st")
    q = F.col("g") / F.col("gt")
    m = (p + q) / 2
    m0 = (F.coalesce(F.col("c"), F.lit(0)) / F.col("st") + q) / 2
    term_p = F.when(
        F.col("c").isNotNull(), p * F.log(p / m)
    ).otherwise(F.lit(0.0))
    term_q = q * F.log(q / m0)
    out = j.groupBy("source", "st").agg(
        F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("src_vocab"),
        F.count(F.lit(1)).alias("vocab"),
        F.round(
            0.5 * F.sum(term_p) + 0.5 * F.sum(term_q), 6
        ).alias("jsd"),
    )
    return out.select(
        "source",
        F.col("st").alias("tokens"),
        "src_vocab",
        "vocab",
        "jsd",
    )


def split_leakage_counts(
    flagged: DataFrame, key: str, is_eval: str, *by: str
) -> DataFrame:
    """(*by, n, leaked, leaked_keys) over the eval rows of ``flagged``
    (boolean column ``is_eval`` true): eval rows, those whose ``key``
    also occurs in a train row (``is_eval`` false), and their distinct
    keys. The train side collapses to distinct keys via a
    map-side-combined hash agg, and the leak check is a left join on
    the key: AQE broadcasts the distinct side when it fits and falls
    back to a shuffle-hash join when it does not."""
    train = (
        flagged.where(~F.col(is_eval))
        .select(key)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        flagged.where(F.col(is_eval))
        .join(train, key, "left")
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "leaked"
            ),
            F.count_distinct(
                F.when(F.col("hit") == 1, F.col(key))
            ).alias("leaked_keys"),
        )
    )


def _phash_split_leakage_duck() -> str:
    _, packed = _phash_parts_sql("duck")
    sk = _hexval_sql("CAST(doc_id AS VARCHAR)", "duck")
    return f"""
    WITH base AS (
      SELECT doc_id, source, {packed} AS phash,
             ({sk} % 5) AS sk
      FROM documents
    ),
    train AS (SELECT DISTINCT phash FROM base WHERE sk <> 0),
    ev AS (SELECT source, phash FROM base WHERE sk = 0)
    SELECT source,
           CAST(count(*) AS BIGINT) AS eval_images,
           CAST(sum(CASE WHEN t.phash IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS leaked_images,
           count(DISTINCT CASE WHEN t.phash IS NOT NULL
                 THEN ev.phash END) AS leaked_phashes,
           floor(sum(CASE WHEN t.phash IS NOT NULL THEN 1 ELSE 0 END)
                 * 10000.0 / count(*)) / 10000 AS leak_rate
    FROM ev LEFT JOIN train t ON ev.phash = t.phash
    GROUP BY source
"""


@register("phash_split_leakage", _phash_split_leakage_duck())
def phash_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split image decontamination: eval-split images whose
    EXACT perceptual hash also appears in the train split — the
    image-axis twin of ngram_contamination (text 5-grams) and the
    exact counterpart of the sketch-approximate
    split_fingerprint_overlap. The 80/20 split is content-addressed
    (md5 of doc_id, same arithmetic both dialects) so it is
    reproducible and uncorrelated with source/partition order —
    a `doc_id % k` split here would alias with the generator's
    source assignment and leave most sources with zero eval rows.

    100 TB shape: one projection builds (phash, side), then
    split_leakage_counts — the kernel
    expect_column_split_leakage_rate_to_be_between also calls — joins
    the eval rows to the distinct train phashes on an 8-byte key;
    nothing here is driver-side. When even the distinct table is too
    big to shuffle comfortably, the theta-sketch variant
    (split_fingerprint_overlap) is the documented approximate
    fallback."""
    _, packed = _phash_parts_sql("spark")
    sk = _hexval_sql("CAST(doc_id AS STRING)", "spark")
    base = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(packed).alias("phash"),
        (F.expr(sk) % 5 == 0).alias("is_eval"),
    )
    c = split_leakage_counts(base, "phash", "is_eval", "source")
    return c.select(
        "source",
        F.col("n").alias("eval_images"),
        F.col("leaked").alias("leaked_images"),
        F.col("leaked_keys").alias("leaked_phashes"),
        (F.floor(F.col("leaked") * 10000.0 / F.col("n")) / 10000).alias(
            "leak_rate"
        ),
    )


def _phash_bit_balance_duck() -> str:
    _, packed = _phash_parts_sql("duck")
    return f"""
    WITH base AS (SELECT {packed} AS phash FROM documents)
    SELECT CAST(bit AS BIGINT) AS bit,
           CAST(sum((phash >> bit) & 1) AS BIGINT) AS ones,
           CAST(count(*) AS BIGINT) AS n_images,
           floor(sum((phash >> bit) & 1) * 1000000.0 / count(*))
             / 1000000 AS rate,
           CAST(CASE WHEN floor(sum((phash >> bit) & 1) * 1000000.0
                            / count(*)) / 1000000 < 0.35
                       OR floor(sum((phash >> bit) & 1) * 1000000.0
                            / count(*)) / 1000000 > 0.65
                THEN 1 ELSE 0 END AS INTEGER) AS degenerate
    FROM base, range({63}) t(bit)
    GROUP BY bit
"""


@register("phash_bit_balance", _phash_bit_balance_duck())
def phash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash quality audit: per-bit set rate over the
    63-bit packed phash. A healthy hash keeps every bit near 0.5;
    bits pinned toward 0/1 carry no entropy, which silently degrades
    every banded-LSH stage built on the hash (phash_hamming_neardup's
    16-bit bands collapse into mega-buckets). Rates here (and in the
    other corpus audits) are floor-scaled — floor(x * 1e6 / n) / 1e6 —
    not round()ed: both engines then run the identical IEEE ops, so
    decimal-tie values like 138/1600 = 0.08625 cannot split between
    Spark's HALF_UP (BigDecimal.valueOf of the shortest repr) and
    DuckDB's binary-value rounding; the degenerate flag compares that
    bit-identical value so both engines decide identically at the
    threshold.

    100 TB shape: Spark computes all 63 bit counts in ONE fused
    aggregation over a single column-pruned scan (the same
    multi-aggregate fusion as fused_column_stats) and explodes the
    63-element result array driver-side — the 63x row blowup exists
    only in the DuckDB oracle, never in the Spark plan."""
    _, packed = _phash_parts_sql("spark")
    d = _t(spark, sf_dir, "documents")
    base = d.select(F.expr(packed).alias("phash"))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(
            F.expr(f"CAST(shiftright(phash, {i}) & 1 AS BIGINT)")
        ).alias(f"b{i}")
        for i in range(63)
    ]
    row = base.agg(*aggs)
    arr = row.select(
        "n", F.array(*[F.col(f"b{i}") for i in range(63)]).alias("a")
    )
    exploded = arr.select("n", F.posexplode("a").alias("bit", "ones"))
    rate = F.floor(F.col("ones") * 1000000.0 / F.col("n")) / 1000000
    return exploded.select(
        F.col("bit").cast("long").alias("bit"),
        F.col("ones"),
        F.col("n").alias("n_images"),
        rate.alias("rate"),
        F.when((rate < 0.35) | (rate > 0.65), 1)
        .otherwise(0)
        .cast("int")
        .alias("degenerate"),
    )


# =============================================================================
# 10. Windowed / ordered operators over the events stream table —
#     rollups, sessionization, grouped top-k (SURVEY.md §2.2 window
#     functions + sorts/limits/top-k).
# =============================================================================


@register(
    "events_cardinality_by_hour",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           count(*) AS n,
           count(DISTINCT user_id) AS distinct_users,
           round(CAST(count(DISTINCT user_id) AS DOUBLE) / count(*), 6)
             AS distinct_ratio
    FROM events
    GROUP BY 1
    """,
)
def events_cardinality_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour key-cardinality stats — the batch twin of the
    streaming cardinality-collapse monitor
    (streaming/windowed_drift.windowed_distinct_stats): a stuck
    upstream replaying one ID shows as a distinct_ratio crash in its
    hour while value distributions stay plausible. Exact distinct
    here (oracle-comparable); the streaming monitor uses HLL++ so
    open-window state stays O(sketch) instead of O(distinct keys).
    One shuffle on the hour bucket; count+distinct fuse into a single
    aggregate (Spark plans distinct-agg expansion internally)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00"
            ).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("distinct_users"),
        )
        .select(
            "hour",
            "n",
            "distinct_users",
            F.round(
                F.col("distinct_users").cast("double") / F.col("n"), 6
            ).alias("distinct_ratio"),
        )
    )


@register(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup: date_trunc + groupBy — the standard
    pre-aggregation for drift monitoring over event time. One shuffle
    on (hour, type); partial aggregation map-side."""
    e = _t(spark, sf_dir, "events")
    # string-typed bucket: raw timestamps hash differently across
    # engines' wire formats; a formatted string is engine-neutral
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00")
        .alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "sessionization",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE OR lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps
    GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag window
    partitioned BY USER (scales — no global ordering), then a count
    of session starts per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast through timestamp_ltz: parquet TIMESTAMP_NTZ has no direct
    # cast to epoch seconds in Spark 4
    secs = F.col("ts").cast("timestamp_ltz").cast("long")
    lag_secs = F.lag(F.col("ts")).over(w).cast("timestamp_ltz").cast(
        "long"
    )
    gap = secs - lag_secs
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "topk_events_per_type",
    """
    SELECT event_type, event_id, round(value, 2) AS value,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    WHERE rn <= 3
    """,
)
def topk_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via row_number window with a deterministic
    tie-break — the bounded-violation / leaderboard pattern."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        e.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select(
            "event_type",
            "event_id",
            F.round("value", 2).alias("value"),
            "rank",
        )
    )


def registry() -> Dict[str, Tuple[Query, Optional[str]]]:
    return dict(_REGISTRY)
