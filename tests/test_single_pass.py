"""Single-pass executor correctness: every EVR of the per-partition
fused pass (plans/single_pass.py) must equal an answer computed
directly in the test — plain DataFrame filters and aggregates, and
the payload codec over collected rows. The expected violation sample
is the first K values of ``df.filter(pred)`` collected in partition
order, which is exactly the pass's pid-ordered concat, so sample
order is checked too."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.core.config import parse_result_format
from great_expectations_spark.data.images import images_df
from great_expectations_spark.payload.codec import (
    decode_image,
    phash_from_pixels,
)


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


# -- the direct oracle ---------------------------------------------------------


def map_answer(df, pred, value, column=None, mostly=1.0):
    """Direct answer for one map check: element count, rows considered
    (non-null ``column``; every row when None, the not_be_null
    denominator) and the violating values of ``df.filter(pred)`` in
    partition order."""
    n = df.count()
    if column is not None:
        pred = F.col(column).isNotNull() & pred
    considered = df.where(F.col(column).isNotNull()).count() if column else n
    values = [r[0] for r in df.filter(pred).select(value).collect()]
    return {"kind": "map", "n": n, "considered": considered,
            "values": values, "mostly": mostly, "total": column is None}


def phash_answer(df, mostly=1.0):
    """expect_image_phash_to_match at hamming 0, row by row with the
    package's codec over collected rows (as perfbench's payload_facts
    does): a non-null payload violates when it does not decode or its
    recomputed phash differs from the stored one."""
    rows = df.select("image_id", "bytes", "phash").collect()
    considered, values = 0, []
    for r in rows:
        if r["bytes"] is None:
            continue
        considered += 1
        try:
            px = decode_image(bytes(r["bytes"]))[3]
        except ValueError:
            values.append(r["image_id"])
            continue
        if r["phash"] is None or phash_from_pixels(px) != r["phash"]:
            values.append(r["image_id"])
    return {"kind": "map", "n": len(rows), "considered": considered,
            "values": values, "mostly": mostly, "total": False}


def zscore_answer(df, column, threshold, double_sided=True, mostly=1.0):
    st = df.agg(F.mean(column), F.stddev_samp(column)).first()
    if st[0] is None or st[1] is None or st[1] == 0:
        pred = F.lit(False)
    else:
        z = (F.col(column) - F.lit(st[0])) / F.lit(st[1])
        pred = (F.abs(z) if double_sided else z) >= F.lit(threshold)
    return map_answer(df, pred, column, column=column, mostly=mostly)


def agg_answer(observed, lo, hi):
    return {"kind": "agg", "observed": observed, "lo": lo, "hi": hi}


def rich_answers(df):
    c, fmt, w, h = (F.col(x) for x in ("caption", "fmt", "w", "h"))
    st = df.agg(
        F.mean(w), F.stddev_samp(h), F.min(h), F.max(w), F.sum(w),
        F.countDistinct(fmt),
    ).first()
    return [
        map_answer(df, c.isNull(), "caption", mostly=0.99),
        map_answer(df, ~fmt.isin("jpeg", "png", "webp"), "fmt",
                   column="fmt", mostly=0.99),
        map_answer(df, ~w.between(1, 64), "w", column="w"),
        map_answer(df, ~F.length(c).between(1, 200), "caption",
                   column="caption", mostly=0.99),
        agg_answer(st[0], 8, 40),
        agg_answer(st[1], 0, 100),
        agg_answer(st[2], 0, 16),
        agg_answer(st[3], 16, 64),
        agg_answer(st[4], 1, 10**9),
        agg_answer(st[5], 1, 10),
        phash_answer(df, mostly=0.95),
    ]


def assert_matches_direct(res, answers, rf="SUMMARY", complete_cap=100_000):
    rf = parse_result_format(rf)
    level = rf["result_format"]
    k = rf["partial_unexpected_count"]
    assert len(res.results) == len(answers)
    for evr, want in zip(res.results, answers):
        typ = evr.expectation_config.expectation_type
        assert not (evr.exception_info or {}).get("raised_exception"), (
            typ, evr.exception_info,
        )
        r = evr.result or {}
        if want["kind"] == "agg":
            obs = want["observed"]
            assert evr.success == (
                obs is not None and want["lo"] <= obs <= want["hi"]
            ), typ
            if isinstance(obs, float):
                assert r["observed_value"] == pytest.approx(obs, rel=1e-9)
            else:
                assert r["observed_value"] == obs, typ
            continue
        n, m, values = want["n"], want["considered"], want["values"]
        assert evr.success == (
            n == 0 or m == 0 or (m - len(values)) / m >= want["mostly"]
        ), typ
        if level == "BOOLEAN_ONLY":
            assert r == {}, typ
            continue
        assert r["element_count"] == n, typ
        assert r["unexpected_count"] == len(values), typ
        if not want["total"]:
            assert r["missing_count"] == n - m, typ
        sample = values[: complete_cap if level == "COMPLETE" else k]
        assert r["partial_unexpected_list"] == sample[:k], typ
        if level == "COMPLETE":
            assert r["unexpected_list"] == sample, typ
        if level in ("SUMMARY", "COMPLETE"):
            counts = Counter(sample)
            got = r["partial_unexpected_counts"]
            assert len(got) == min(k, len(counts)), typ
            assert all(d["count"] == counts[d["value"]] for d in got), typ


def samples(res):
    return [(r.result or {}).get("partial_unexpected_list") for r in res.results]


def test_single_pass_matches_direct_rich_table(spark):
    df = images_df(spark, n_rows=3000, seed=42)
    res = ges.validate(df, suite_rich(), result_format="SUMMARY")
    answers = rich_answers(df)
    assert_matches_direct(res, answers)
    # the defects must actually be present for this test to mean much
    assert answers[-1]["values"] and answers[1]["values"]


def test_single_pass_matches_direct_empty_table(spark):
    df = images_df(spark, n_rows=500, seed=7).where(F.lit(False))
    res = ges.validate(df, suite_rich(), result_format="SUMMARY")
    assert_matches_direct(res, rich_answers(df))
    # map checks are vacuously true on an empty table; agg checks
    # (mean/min/... of nothing -> None) fail
    for r in res.results:
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
    res = ges.validate(df, s, result_format="SUMMARY")
    pred = ~F.length(F.col("caption")).between(1, 10)
    assert_matches_direct(res, [map_answer(df, pred, "caption", "caption")])
    assert res.results[0].success  # vacuous truth


def test_strategy_option_removed(spark):
    df = images_df(spark, n_rows=10, seed=1)
    with pytest.raises(TypeError):
        ges.validate(df, suite_rich(), strategy="classic")
    with pytest.raises(TypeError):
        ges.compile_suite(suite_rich(), df.schema, spark, strategy="auto")


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


def zscore_answers(df):
    """Direct answers for zscore_suite over ``df`` (already filtered
    to the row_condition's domain, when there is one)."""
    return [
        zscore_answer(df, "w", 1.0, double_sided=True, mostly=0.5),
        zscore_answer(df, "h", 0.5, double_sided=False, mostly=0.5),
        map_answer(df, ~F.col("fmt").isin("jpeg", "png"), "fmt",
                   column="fmt", mostly=0.5),
        agg_answer(df.agg(F.mean("w")).first()[0], 8, 40),
    ]


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
    assert set(times) == {"compile", "single_pass", "deferred"}, times
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
def test_zscore_matches_direct_result_formats(zdf, rf):
    res = ges.validate(zdf, zscore_suite(), result_format=rf)
    answers = zscore_answers(zdf)
    assert_matches_direct(res, answers, rf=rf)
    assert answers[0]["values"] and answers[1]["values"]


def test_zscore_matches_direct_row_condition(zdf):
    s = zscore_suite(row_condition="fmt = 'jpeg'",
                     condition_parser="spark")
    res = ges.validate(zdf, s, result_format="SUMMARY")
    assert_matches_direct(res, zscore_answers(zdf.where("fmt = 'jpeg'")))
    z = res.results[0].result
    assert 0 < z["element_count"] < zdf.count()
    assert z["unexpected_count"] > 0


def test_zscore_matches_direct_constant_and_all_null(zdf):
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
    res = ges.validate(df, s, result_format="SUMMARY")
    assert_matches_direct(
        res, [zscore_answer(df, "c", 1.0), zscore_answer(df, "n", 1.0)]
    )
    for r in res.results:  # std 0 / no values: nothing is unexpected
        assert r.success and r.result["unexpected_count"] == 0


def test_zscore_matches_direct_empty_frame(zdf):
    df = zdf.where(F.lit(False))
    res = ges.validate(df, zscore_suite(), result_format="SUMMARY")
    assert_matches_direct(res, zscore_answers(df))
    assert "deferred" in res.meta["phase_times"]
    assert res.results[0].success  # vacuous truth


def test_zscore_matches_direct_unexpected_rows(zdf):
    rf = {"result_format": "SUMMARY", "include_unexpected_rows": True}
    res = ges.validate(zdf, zscore_suite(), result_format=rf)
    answers = zscore_answers(zdf)
    assert_matches_direct(res, answers, rf=rf)
    rows = res.results[0].result["unexpected_rows"]
    assert len(rows) == min(20, len(answers[0]["values"]))
    violating = Counter(answers[0]["values"])
    assert all(violating[r["w"]] for r in rows)


def _count_driver_rows(monkeypatch):
    """Spy on the planner's run_single_pass: the list receives the
    number of rows each single-pass job hands the driver."""
    from great_expectations_spark.plans import planner as pl

    n_rows = []
    orig = pl.run_single_pass

    def spy(df_, partials, violation_exprs, **kw):
        rows = orig(df_, partials, violation_exprs, **kw)
        n_rows.append(len(rows))
        return rows

    monkeypatch.setattr(pl, "run_single_pass", spy)
    return n_rows


def test_zscore_second_level_merge_matches_direct(zdf, monkeypatch):
    """Forced two-level merge for the deferred job too: every
    single-pass job hands the driver at most fan_in rows, and the
    bucketed run equals the unbucketed one and the direct answers."""
    from great_expectations_spark.plans import single_pass as sp

    answers = zscore_answers(zdf)
    flat = ges.validate(zdf, zscore_suite(), result_format="COMPLETE")
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    n_rows = _count_driver_rows(monkeypatch)
    bucketed = ges.validate(zdf, zscore_suite(), result_format="COMPLETE")
    for res in (flat, bucketed):
        assert_matches_direct(res, answers, rf="COMPLETE")
    assert samples(bucketed) == samples(flat)
    assert len(n_rows) == 2 and max(n_rows) <= 3  # main pass + deferred


def test_second_level_merge_matches_direct_collect(spark, monkeypatch):
    """Force the bounded two-level path (fan_in < #partitions): the
    driver must receive at most fan_in rows and the EVRs must equal
    the unbucketed run's and the direct answers — stats merged in
    closed form (incl. the parallel-variance fold) and violation
    samples flattened in pid order. The repartitioned frame is cached
    so every read sees the same rows in the same order."""
    from great_expectations_spark.plans import single_pass as sp

    df = images_df(spark, n_rows=3000, seed=42).repartition(16).cache()
    answers = rich_answers(df)
    flat = ges.validate(df, suite_rich(), result_format="SUMMARY")
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    n_rows = _count_driver_rows(monkeypatch)
    bucketed = ges.validate(df, suite_rich(), result_format="SUMMARY")
    for res in (flat, bucketed):
        assert_matches_direct(res, answers)
    assert samples(bucketed) == samples(flat)
    assert n_rows == [3]
    df.unpersist()


@pytest.mark.parametrize("fan_in", [None, 2])
def test_all_violating_sample_is_first_k_in_partition_order(
    spark, monkeypatch, fan_in
):
    """Every row of an 8-partition table violates two map checks. The
    sample must be the first K violating values in partition order at
    BASIC (K=20) and at COMPLETE (cap 50), with and without the
    second-level merge. Partition 0 is empty and partition 1 alone
    holds more than K rows, so the per-partition cap decides the BASIC
    sample; the COMPLETE sample spans five partitions. The values are
    a permutation of the ids, so a sorted or reordered sample fails."""
    from great_expectations_spark.plans import single_pass as sp

    if fan_in is not None:
        monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", fan_in)
    sizes = [0, 25, 8, 8, 8, 8, 8, 8]
    pid = (F.col("id") / 64).cast("int")
    df = (
        spark.range(0, 64 * len(sizes), 1, len(sizes))
        .where(F.col("id") % 64 < F.element_at(
            F.array(*[F.lit(n) for n in sizes]), pid + 1
        ))
        .select(
            ((F.col("id") * 37) % 512).alias("x"),
            F.concat(F.lit("s"), ((F.col("id") * 11) % 512).cast("string"))
            .alias("t"),
        )
    )
    assert df.rdd.glom().map(len).collect() == sizes
    s = (
        ges.suite("all-bad")
        .expect("expect_column_values_to_be_between", column="x",
                min_value=1000, max_value=2000)
        .expect("expect_column_values_to_be_in_set", column="t",
                value_set=["none"])
    )
    answers = [
        map_answer(df, ~F.col("x").between(1000, 2000), "x", column="x"),
        map_answer(df, ~F.col("t").isin("none"), "t", column="t"),
    ]
    assert all(len(a["values"]) == sum(sizes) for a in answers)
    basic = ges.validate(df, s, result_format="BASIC")
    assert_matches_direct(basic, answers, rf="BASIC")
    complete = ges.validate(df, s, result_format="COMPLETE", complete_cap=50)
    assert_matches_direct(complete, answers, rf="COMPLETE", complete_cap=50)
    assert [len(r.result["unexpected_list"]) for r in complete.results] == [
        50, 50,
    ]


def test_second_level_stddev_large_mean_precision(spark, monkeypatch):
    """Epoch-timestamp-like column (mean/sigma ~ 5e13) through the
    forced two-level merge: the bucket-level variance fold must keep
    Chan-quality precision. The textbook recombination
    sum(M2_i) + sum(n_i*mean_i^2) - s1^2/N cancels catastrophically
    here (both big terms ~1e34, true M2 ~1e6) and yields garbage or
    negative M2 — this is the regression guard for the fold-based
    second level."""
    from great_expectations_spark.plans import single_pass as sp

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
    chan = ges.validate(df, s)
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    res = ges.validate(df, s)
    got = res.results[0].result["observed_value"]
    exact = df.agg(F.stddev_samp("ts")).first()[0]
    assert got == pytest.approx(
        chan.results[0].result["observed_value"], rel=1e-3
    )
    assert got == pytest.approx(exact, rel=5e-3)
    assert res.results[0].success


def test_second_level_merge_empty_and_allnull(spark, monkeypatch):
    from great_expectations_spark.plans import single_pass as sp

    df = images_df(spark, n_rows=400, seed=5).repartition(8).withColumn(
        "caption", F.lit(None).cast("string")
    ).cache()
    answers = rich_answers(df)
    flat = ges.validate(df, suite_rich(), result_format="SUMMARY")
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 2)
    bucketed = ges.validate(df, suite_rich(), result_format="SUMMARY")
    for res in (flat, bucketed):
        assert_matches_direct(res, answers)
    assert samples(bucketed) == samples(flat)
    empty = df.where(F.lit(False))
    assert_matches_direct(
        ges.validate(empty, suite_rich(), result_format="SUMMARY"),
        rich_answers(empty),
    )
    df.unpersist()


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
    res = ges.validate(df, s)
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
    direct = ges.validate(df, s)
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    bucketed = ges.validate(df, s)
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
    sketch's rank error of the exact quantiles."""
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
    res = ges.validate(df, s)
    got = res.results[0].result["observed_value"]["values"]
    for v, (lo, hi) in zip(
        got, _rank_window(df.withColumn("w", F.col("w").cast("double")), "w", qs)
    ):
        assert lo <= v <= hi, (v, lo, hi)
    med = res.results[1].result["observed_value"]
    (mlo, mhi), = _rank_window(
        df.withColumn("h", F.col("h").cast("double")), "h", [0.5]
    )
    assert mlo <= med <= mhi, med
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
    direct = ges.validate(df, s)
    monkeypatch.setattr(sp, "SECOND_LEVEL_FAN_IN", 3)
    bucketed = ges.validate(df, s)
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
    res = ges.validate(df, s)
    assert res.results[0].success is False
    assert res.results[0].result["observed_value"] is None

    s2 = ges.suite("kllf").expect(
        "expect_column_quantile_values_to_be_between",
        column="w", approximate=True,
        quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 64]]},
    )
    # string column: falls back to exact (here just prove a numeric
    # exact run and the approximate run agree on success)
    assert ges.validate(df, s2).results[0].success
