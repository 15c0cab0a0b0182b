"""Single-pass executor equivalence: the per-partition fused pass
(plans/single_pass.py) must produce identical EVRs to the classic
two-scan plan on a defect-rich table, including violation samples,
merged means/stddevs, and vacuous-truth edge cases."""

import math

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.data.images import images_df


def suite_rich():
    return (
        ges.suite("rich")
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"], mostly=0.99)
        .expect("expect_column_values_to_be_between", column="w",
                min_value=1, max_value=64)
        .expect("expect_column_value_lengths_to_be_between",
                column="caption", min_value=1, max_value=200, mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
        .expect("expect_column_stdev_to_be_between", column="h",
                min_value=0, max_value=100)
        .expect("expect_column_min_to_be_between", column="h",
                min_value=0, max_value=16)
        .expect("expect_column_max_to_be_between", column="w",
                min_value=16, max_value=64)
        .expect("expect_column_sum_to_be_between", column="w",
                min_value=1, max_value=10**9)
        .expect("expect_column_unique_value_count_to_be_between",
                column="fmt", min_value=1, max_value=10)
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
    )


def run_both(df, suite, rf="SUMMARY"):
    classic = ges.SparkValidator(
        df, suite, result_format=rf, strategy="classic"
    ).validate()
    single = ges.SparkValidator(
        df, suite, result_format=rf, strategy="single_pass"
    ).validate()
    return classic, single


def assert_equivalent(classic, single):
    assert len(classic.results) == len(single.results)
    for c, s in zip(classic.results, single.results):
        typ = c.expectation_config.expectation_type
        assert c.success == s.success, typ
        cr, sr = c.result or {}, s.result or {}
        assert set(cr) == set(sr), typ
        for k in cr:
            cv, sv = cr[k], sr[k]
            if k == "partial_unexpected_counts":
                # derived from the (possibly truncated) sample —
                # subject to the same truncation caveat as the list
                if len(cr.get("partial_unexpected_list") or []) < (
                    cr.get("unexpected_count") or 0
                ):
                    continue
                assert cv == sv, (typ, k)
            elif k == "partial_unexpected_list":
                # sample membership may differ by partition visit
                # order when the cap truncates (classic's second-level
                # collect_list order is shuffle-dependent); the
                # multiset must match only when the list is exhaustive
                assert len(cv) == len(sv), typ
                if len(cv) == (cr.get("unexpected_count") or 0):
                    assert sorted(map(str, cv)) == sorted(
                        map(str, sv)
                    ), typ
            elif isinstance(cv, float) and isinstance(sv, float):
                if math.isnan(cv):
                    assert math.isnan(sv), typ
                else:
                    assert cv == pytest.approx(sv, rel=1e-9), (typ, k)
            else:
                assert cv == sv, (typ, k)


def test_single_pass_matches_classic_rich_table(spark):
    df = images_df(spark, n_rows=3000, seed=42)
    classic, single = run_both(df, suite_rich())
    assert_equivalent(classic, single)
    # the defects must actually be present for this test to mean much
    by_type = {
        r.expectation_config.expectation_type: r for r in single.results
    }
    assert (
        by_type["expect_image_phash_to_match"].result["unexpected_count"]
        > 0
    )


def test_single_pass_matches_classic_empty_table(spark):
    df = images_df(spark, n_rows=500, seed=7).where(F.lit(False))
    classic, single = run_both(df, suite_rich())
    assert_equivalent(classic, single)
    # map checks are vacuously true on an empty table; agg checks
    # (mean/min/... of nothing -> None) legitimately fail in BOTH modes
    for r in single.results:
        if "unexpected_count" in (r.result or {}):
            assert r.success, r.expectation_config.expectation_type


def test_single_pass_all_null_column(spark):
    df = images_df(spark, n_rows=200, seed=9).withColumn(
        "caption", F.lit(None).cast("string")
    )
    s = ges.suite("nulls").expect(
        "expect_column_value_lengths_to_be_between",
        column="caption",
        min_value=1,
        max_value=10,
    )
    classic, single = run_both(df, s)
    assert_equivalent(classic, single)
    assert single.results[0].success  # vacuous truth

def zscore_suite(**kwargs):
    """Two deferred z-score checks (one double-, one single-sided)
    beside a plain map check and an agg check; ``kwargs`` (e.g. a
    row_condition) apply to every expectation."""
    return (
        ges.suite("z")
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=1.0, double_sided=True,
                mostly=0.5, **kwargs)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="h", threshold=0.5, double_sided=False,
                mostly=0.5, **kwargs)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png"], mostly=0.5, **kwargs)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40, **kwargs)
    )


@pytest.fixture(scope="module")
def zdf(spark):
    """8-partition scalar image table (payloads dropped, cached) whose
    z-score violations span at least 4 partitions."""
    df = images_df(spark, n_rows=2400, seed=21, num_partitions=8).drop(
        "bytes"
    ).cache()
    st = df.agg(F.mean("w").alias("m"), F.stddev_samp("w").alias("s")).first()
    violating = df.where(F.abs((F.col("w") - st["m"]) / st["s"]) >= 1.0)
    assert (
        violating.select(F.spark_partition_id()).distinct().count() >= 4
    )
    yield df
    df.unpersist()


def test_deferred_zscore_runs_in_single_pass(spark, tmp_path, monkeypatch):
    """An image + z-score suite under "auto" runs the single pass plus
    ONE deferred job; that job is column-pruned to the z-score column,
    so it neither reads nor decodes payloads."""
    from great_expectations_spark.data.images import write_images_table
    from great_expectations_spark.plans import planner as pl

    path = str(tmp_path / "images")
    write_images_table(spark, path, n_rows=1000, seed=11)
    df = spark.read.parquet(path)
    s = (
        ges.suite("z-img")
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=1.0, double_sided=True,
                mostly=0.5)
    )

    # spy on the deferred helper: record the plans of the jobs it runs
    plans = []
    orig_helper = pl.SparkValidator._run_deferred
    orig_run = pl.run_single_pass

    def run_spy(df_, partials, violation_exprs, **kw):
        job = df_.groupBy(F.spark_partition_id().alias("__pid")).agg(
            *[e.alias(a) for a, e in partials.items()], *violation_exprs
        )
        qe = job._jdf.queryExecution()
        plans.append(
            (qe.optimizedPlan().toString(), qe.executedPlan().toString())
        )
        return orig_run(df_, partials, violation_exprs, **kw)

    def helper_spy(self, *a, **kw):
        monkeypatch.setattr(pl, "run_single_pass", run_spy)
        try:
            return orig_helper(self, *a, **kw)
        finally:
            monkeypatch.setattr(pl, "run_single_pass", orig_run)

    monkeypatch.setattr(pl.SparkValidator, "_run_deferred", helper_spy)
    res = ges.validate(df, s, result_format="SUMMARY")

    times = res.meta["phase_times"]
    assert "single_pass" in times and "deferred" in times
    assert "fused_agg" not in times and "harvest" not in times
    assert len(plans) == 1
    optimized, executed = plans[0]
    # the leaf Relation lists every table column; nothing above it
    # may reference the payload, and the scan must not read it
    above_leaf = [
        ln for ln in optimized.splitlines() if "Relation" not in ln
    ]
    assert not any("bytes" in ln for ln in above_leaf), optimized
    assert "ArrowEvalPython" not in optimized
    read_schemas = [
        ln for ln in executed.splitlines() if "ReadSchema" in ln
    ]
    assert read_schemas and not any(
        "bytes" in ln for ln in read_schemas
    ), executed
    z = res.results[1].result
    assert z["unexpected_count"] > 0
    assert len(z["partial_unexpected_list"]) == min(
        20, z["unexpected_count"]
    )


@pytest.mark.parametrize(
    "rf", ["BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE"]
)
def test_zscore_matches_classic_result_formats(zdf, rf):
    classic, single = run_both(zdf, zscore_suite(), rf=rf)
    assert_equivalent(classic, single)
    if rf == "COMPLETE":
        # both strategies share the deferred job: check it directly
        z = single.results[0].result
        st = zdf.agg(F.mean("w"), F.stddev_samp("w")).first()
        expected = zdf.where(
            F.abs((F.col("w") - st[0]) / st[1]) >= 1.0
        ).count()
        assert expected > 0
        assert z["unexpected_count"] == expected
        assert len(z["unexpected_list"]) == expected


def test_zscore_matches_classic_row_condition(zdf):
    s = zscore_suite(row_condition="fmt = 'jpeg'",
                     condition_parser="spark")
    classic, single = run_both(zdf, s)
    assert_equivalent(classic, single)
    z = single.results[0].result
    assert 0 < z["element_count"] < zdf.count()
    assert z["unexpected_count"] > 0


def test_zscore_matches_classic_constant_and_all_null(zdf):
    df = zdf.withColumn("c", F.lit(5)).withColumn(
        "n", F.lit(None).cast("double")
    )
    s = (
        ges.suite("z-degenerate")
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="c", threshold=1.0)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="n", threshold=1.0)
    )
    classic, single = run_both(df, s)
    assert_equivalent(classic, single)
    for r in single.results:  # std 0 / no values: nothing is unexpected
        assert r.success and r.result["unexpected_count"] == 0


def test_zscore_matches_classic_empty_frame(zdf):
    classic, single = run_both(zdf.where(F.lit(False)), zscore_suite())
    assert_equivalent(classic, single)
    assert "deferred" in single.meta["phase_times"]
    assert single.results[0].success  # vacuous truth


def test_zscore_matches_classic_unexpected_rows(zdf):
    rf = {"result_format": "SUMMARY", "include_unexpected_rows": True}
    classic, single = run_both(zdf, zscore_suite(), rf=rf)
    assert_equivalent(classic, single)
    rows = single.results[0].result["unexpected_rows"]
    assert 0 < len(rows) <= 20


def test_zscore_second_level_merge_matches_classic(zdf, monkeypatch):
    """Forced two-level merge for the deferred job too: every
    single-pass job hands the driver at most fan_in rows."""
    from great_expectations_spark.plans import planner as pl
    from great_expectations_spark.plans import single_pass as sp

    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    n_rows = []
    orig = sp.run_single_pass

    def spy(df_, partials, violation_exprs, **kw):
        rows = orig(df_, partials, violation_exprs, **kw)
        n_rows.append(len(rows))
        return rows

    monkeypatch.setattr(pl, "run_single_pass", spy)
    classic, single = run_both(zdf, zscore_suite(), rf="COMPLETE")
    assert_equivalent(classic, single)
    # main pass + deferred job under single_pass, deferred under classic
    assert len(n_rows) == 3 and max(n_rows) <= 3


def test_second_level_merge_matches_direct_collect(spark, monkeypatch):
    """Force the bounded two-level path (fan_in < #partitions): the
    driver must receive at most fan_in rows and the EVRs must be
    byte-identical to the classic plan — stats merged in closed form
    (incl. the parallel-variance identity) and violation samples
    flattened in pid order."""
    from great_expectations_spark.plans import single_pass as sp

    df = images_df(spark, n_rows=3000, seed=42).repartition(16)
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)

    captured = {}
    orig = sp.run_single_pass

    def spy(df_, partials, violation_exprs, **kw):
        rows = orig(df_, partials, violation_exprs, **kw)
        captured["n_rows"] = len(rows)
        return rows

    monkeypatch.setattr(sp, "run_single_pass", spy)
    # the planner imported the symbol directly — patch there too
    from great_expectations_spark.plans import planner as pl

    monkeypatch.setattr(pl, "run_single_pass", spy)

    classic, single = run_both(df, suite_rich())
    assert_equivalent(classic, single)
    assert captured["n_rows"] <= 3


def test_second_level_stddev_large_mean_precision(spark, monkeypatch):
    """Epoch-timestamp-like column (mean/sigma ~ 5e13) through the
    forced two-level merge: the bucket-level variance fold must keep
    Chan-quality precision. The textbook recombination
    sum(M2_i) + sum(n_i*mean_i^2) - s1^2/N cancels catastrophically
    here (both big terms ~1e34, true M2 ~1e6) and yields garbage or
    negative M2 — this is the regression guard for the fold-based
    second level."""
    from great_expectations_spark.plans import planner as pl
    from great_expectations_spark.plans import single_pass as sp

    monkeypatch.setattr(pl, "run_single_pass", sp.run_single_pass)
    base = 1_700_000_000_000_000.0  # epoch microseconds
    df = (
        spark.range(0, 4000)
        .repartition(16)
        .select(
            (F.lit(base) + (F.col("id") % 97).cast("double")).alias("ts")
        )
    )
    s = ges.suite("ts").expect(
        "expect_column_stdev_to_be_between",
        column="ts",
        min_value=1.0,
        max_value=1000.0,
    )
    # quality bar: the one-level driver Chan merge on the same
    # (n, avg, M2) partials — residual ~1e-4 relative error is baked
    # into the level-1 F.avg (naive double sum at 1e15 magnitude) and
    # is shared by BOTH paths; what the fold must not do is add the
    # old recombination's catastrophic loss on top (rel error >> 1)
    chan = ges.SparkValidator(
        df, s, strategy="single_pass"
    ).validate()
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    res = ges.SparkValidator(
        df, s, strategy="single_pass"
    ).validate()
    got = res.results[0].result["observed_value"]
    exact = df.agg(F.stddev_samp("ts")).first()[0]
    assert got == pytest.approx(
        chan.results[0].result["observed_value"], rel=1e-3
    )
    assert got == pytest.approx(exact, rel=5e-3)
    assert res.results[0].success


def test_second_level_merge_empty_and_allnull(spark, monkeypatch):
    from great_expectations_spark.plans import planner as pl
    from great_expectations_spark.plans import single_pass as sp

    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 2)
    monkeypatch.setattr(
        pl, "run_single_pass", sp.run_single_pass
    )
    df = images_df(spark, n_rows=400, seed=5).repartition(8).withColumn(
        "caption", F.lit(None).cast("string")
    )
    s = suite_rich()
    classic, single = run_both(df, s)
    assert_equivalent(classic, single)


def test_hll_mergeable_approx_distinct(spark):
    """approximate=True on an hll_sketch_agg-supported type rides the
    single pass as a mergeable Datasketches sketch partial (no
    leftover full-scan aggregate) and lands within a few rsd of the
    exact count; an unsupported type (double) falls back to the
    leftover approx_count_distinct path with the same contract."""
    df = images_df(spark, n_rows=5000, seed=11).withColumn(
        "w_double", F.col("w").cast("double") + F.rand(7)
    )
    s = (
        ges.suite("hll")
        .expect("expect_column_unique_value_count_to_be_between",
                column="image_id", min_value=1, max_value=10**9,
                approximate=True, rsd=0.02)
        .expect("expect_column_unique_value_count_to_be_between",
                column="w_double", min_value=1, max_value=10**9,
                approximate=True, rsd=0.02)
    )
    res = ges.validate(df, s, strategy="single_pass")
    exact_id = df.select("image_id").distinct().count()
    exact_wd = df.select("w_double").distinct().count()
    got_id = res.results[0].result["observed_value"]
    got_wd = res.results[1].result["observed_value"]
    assert abs(got_id - exact_id) <= 4 * 0.02 * exact_id
    assert abs(got_wd - exact_wd) <= 4 * 0.02 * exact_wd

    # plan check: the string column's stat is a mergeable partial
    # (hll kind); the double column's stat stays leftover
    from great_expectations_spark.plans.single_pass import (
        plan_stat_partials,
    )

    partials, merges, leftover = plan_stat_partials({
        "column.distinct_values.count~hll0.02:image_id":
            F.approx_count_distinct("image_id", 0.02),
        "column.distinct_values.count~approx0.02:w_double":
            F.approx_count_distinct("w_double", 0.02),
    })
    assert any(m.kind == "hll" for m in merges.values())
    assert list(leftover) == [
        "column.distinct_values.count~approx0.02:w_double"
    ]


def test_hll_second_level_union_identical(spark, monkeypatch):
    """Sketch union is associative and order-insensitive: forcing the
    two-level bucket merge (fan_in < #partitions) must produce the
    IDENTICAL estimate to the direct driver merge."""
    from great_expectations_spark.plans import single_pass as sp

    df = images_df(spark, n_rows=4000, seed=3).repartition(16)
    s = ges.suite("hll2").expect(
        "expect_column_unique_value_count_to_be_between",
        column="image_id", min_value=1, max_value=10**9,
        approximate=True,
    )
    direct = ges.validate(df, s, strategy="single_pass")
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    bucketed = ges.validate(df, s, strategy="single_pass")
    assert (
        bucketed.results[0].result["observed_value"]
        == direct.results[0].result["observed_value"]
    )


def _rank_window(df, col, qs, slack=0.05):
    """Exact value window [q-slack, q+slack] for each quantile — the
    acceptance band for a KLL sketch whose normalized rank error at
    k=200 is ~1.65% (slack = 3x)."""
    los = df.approxQuantile(col, [max(0.0, q - slack) for q in qs], 0.0)
    his = df.approxQuantile(col, [min(1.0, q + slack) for q in qs], 0.0)
    return list(zip(los, his))


def test_kll_mergeable_approx_quantiles(spark):
    """approximate=True quantile/median expectations on numeric
    columns ride the single pass as mergeable Datasketches KLL sketch
    partials (no separate approxQuantile job) and land within the
    sketch's rank error of the exact quantiles; classic strategy
    computes the same expression in its fused agg."""
    df = images_df(spark, n_rows=6000, seed=12)
    qs = [0.1, 0.5, 0.9]
    s = (
        ges.suite("kll")
        .expect("expect_column_quantile_values_to_be_between",
                column="w", approximate=True,
                quantile_ranges={"quantiles": qs,
                                 "value_ranges": [[None, None]] * 3})
        .expect("expect_column_median_to_be_between", column="h",
                min_value=0, max_value=10**6, approximate=True)
    )
    for strategy in ("single_pass", "classic"):
        res = ges.validate(df, s, strategy=strategy)
        got = res.results[0].result["observed_value"]["values"]
        for v, (lo, hi) in zip(
            got, _rank_window(df.withColumn("w", F.col("w").cast("double")), "w", qs)
        ):
            assert lo <= v <= hi, (strategy, v, lo, hi)
        med = res.results[1].result["observed_value"]
        (mlo, mhi), = _rank_window(
            df.withColumn("h", F.col("h").cast("double")), "h", [0.5]
        )
        assert mlo <= med <= mhi, (strategy, med)
        assert res.results[1].success

    # plan check: the stat is a mergeable kll partial, not leftover
    from great_expectations_spark.plans.single_pass import (
        plan_stat_partials,
    )

    key = 'column.quantiles~kll200:w:[0.1, 0.5, 0.9]'
    partials, merges, leftover = plan_stat_partials({
        key: F.lit(None),
    })
    assert merges[key].kind == "kll" and not leftover


def test_kll_second_level_union_close(spark, monkeypatch):
    """Forcing the two-level bucket merge must agree with the direct
    driver merge to within the sketch's rank error (KLL merge is
    associative but its compaction is randomized, so unlike HLL the
    estimates need not be bit-identical across merge shapes)."""
    from great_expectations_spark.plans import single_pass as sp

    df = images_df(spark, n_rows=4000, seed=5).repartition(16)
    s = ges.suite("kll2").expect(
        "expect_column_median_to_be_between",
        column="w", min_value=0, max_value=10**6, approximate=True,
    )
    direct = ges.validate(df, s, strategy="single_pass")
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    bucketed = ges.validate(df, s, strategy="single_pass")
    (lo, hi), = _rank_window(
        df.withColumn("w", F.col("w").cast("double")), "w", [0.5]
    )
    for r in (direct, bucketed):
        assert lo <= r.results[0].result["observed_value"] <= hi


def test_kll_allnull_and_fallback(spark):
    """All-null column -> observed None, success False (the when()
    guard stops the empty-sketch extraction from throwing); a
    non-numeric column ignores approximate=True and takes the exact
    JobCheck path."""
    df = images_df(spark, n_rows=200, seed=2).withColumn(
        "allnull", F.lit(None).cast("double")
    )
    s = ges.suite("klle").expect(
        "expect_column_median_to_be_between",
        column="allnull", min_value=0, max_value=1, approximate=True,
    )
    res = ges.validate(df, s, strategy="single_pass")
    assert res.results[0].success is False
    assert res.results[0].result["observed_value"] is None

    s2 = ges.suite("kllf").expect(
        "expect_column_quantile_values_to_be_between",
        column="w", approximate=True,
        quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 64]]},
    )
    # string column: falls back to exact (here just prove a numeric
    # exact run and the approximate run agree on success)
    assert ges.validate(df, s2, strategy="single_pass").results[0].success
