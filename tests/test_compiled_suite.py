"""CompiledSuite: compile-once / validate-many equivalence.

The compiled path must produce EVR-identical results to the one-shot
``ges.validate`` for every check shape (map / agg / job / schema /
deferred z-score / row_condition domains / compile errors), across
multiple batches with different data. This is the contract the
streaming foreachBatch bridge and the bench steady-state rely on.
"""

import pytest
from pyspark.sql import types as T

import great_expectations_spark as ges


SCHEMA = T.StructType(
    [
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)

BATCH_A = [
    (1, 1.0, "aaa"),
    (2, 2.5, "abb"),
    (3, None, "acc"),
    (4, 4.5, None),
    (None, 5.0, "zzz"),
]
BATCH_B = [
    (10, 0.5, "qqq"),
    (10, 0.5, "qqq"),
    (12, 9.0, None),
]


def wide_suite():
    return (
        ges.suite("compiled-eq")
        # schema check
        .expect("expect_table_columns_to_match_set",
                column_set=["x", "y", "s"])
        # map checks
        .expect("expect_column_values_to_not_be_null", column="x",
                mostly=0.5)
        .expect("expect_column_values_to_be_between", column="x",
                min_value=0, max_value=11)
        .expect("expect_column_value_lengths_to_be_between", column="s",
                min_value=2, max_value=3)
        # deferred map check (z-score needs merged stats → phase 1b job)
        .expect("expect_column_value_z_scores_to_be_less_than", column="y",
                threshold=1.5, double_sided=True)
        # agg checks
        .expect("expect_column_mean_to_be_between", column="y",
                min_value=0, max_value=10)
        .expect("expect_column_stdev_to_be_between", column="y",
                min_value=0, max_value=10)
        # job check (two-phase uniqueness)
        .expect("expect_column_values_to_be_unique", column="x")
        # row_condition domain
        .expect("expect_column_values_to_be_in_set", column="s",
                value_set=["aaa", "abb", "acc", "qqq"],
                row_condition='x IS NOT NULL',
                condition_parser="spark")
    )


def strip_meta(res):
    return [
        {
            "success": r.success,
            "type": r.expectation_config.expectation_type,
            "result": r.result,
            "exc": r.exception_info["raised_exception"],
        }
        for r in res.results
    ]


@pytest.mark.parametrize("rf", ["SUMMARY", "COMPLETE"])
def test_compiled_matches_oneshot_across_batches(spark, rf):
    suite = wide_suite()
    compiled = ges.compile_suite(suite, SCHEMA, spark, result_format=rf)
    for rows in (BATCH_A, BATCH_B, BATCH_A):
        df = spark.createDataFrame(rows, SCHEMA)
        got = compiled.validate(df)
        want = ges.validate(df, suite, result_format=rf)
        assert strip_meta(got) == strip_meta(want)
        assert got.success == want.success
        assert got.statistics == want.statistics


def test_compiled_empty_batch(spark):
    suite = wide_suite()
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame([], SCHEMA)
    got = compiled.validate(df)
    want = ges.validate(df, suite)
    assert strip_meta(got) == strip_meta(want)


def test_compiled_compile_error_preserved(spark):
    suite = (
        ges.suite("bad")
        .expect("expect_column_values_to_not_be_null", column="x")
        .expect("expect_no_such_expectation_type", column="x")
    )
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame(BATCH_A, SCHEMA)
    got = compiled.validate(df)
    want = ges.validate(df, suite)
    assert [r.exception_info["raised_exception"] for r in got.results] == [
        r.exception_info["raised_exception"] for r in want.results
    ]
    assert got.results[1].exception_info["raised_exception"] is True


def test_compiled_bad_row_condition_yields_exception_evrs(spark):
    suite = ges.suite("badrc").expect(
        "expect_column_values_to_not_be_null",
        column="x",
        row_condition="this is ((( not sql",
        condition_parser="spark",
    )
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame(BATCH_A, SCHEMA)
    got = compiled.validate(df)
    want = ges.validate(df, suite)
    assert got.results[0].exception_info["raised_exception"] is True
    assert want.results[0].exception_info["raised_exception"] is True


def test_compiled_schema_mismatch_raises(spark):
    suite = wide_suite()
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    other = T.StructType([T.StructField("z", T.IntegerType())])
    df = spark.createDataFrame([(1,)], other)
    with pytest.raises(ValueError, match="recompile"):
        compiled.validate(df)


def test_compiled_is_faster_to_revalidate(spark):
    """The compiled path must not re-run expression construction: its
    per-batch phase_times carry no 'compile' phase."""
    suite = wide_suite()
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame(BATCH_A, SCHEMA)
    got = compiled.validate(df)
    assert "compile" not in got.meta["phase_times"]
    want = ges.validate(df, suite)
    assert "compile" in want.meta["phase_times"]


def test_compiled_per_batch_evaluation_parameters(spark):
    """Different params per batch → transparent memoized recompile
    matching the one-shot result; stable params reuse the rebound
    plan (no compile phase in its per-batch meta)."""
    suite = ges.suite("params").expect(
        "expect_column_values_to_be_between",
        column="x",
        min_value=0,
        max_value={"$PARAMETER": "cap"},
    )
    suite.evaluation_parameters = {"cap": 3}
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame(BATCH_A, SCHEMA)

    base = compiled.validate(df)
    want_base = ges.validate(df, suite)
    assert strip_meta(base) == strip_meta(want_base)
    assert base.results[0].result["unexpected_count"] == 1  # x=4 > 3

    got = compiled.validate(df, evaluation_parameters={"cap": 10})
    want = ges.validate(df, suite, evaluation_parameters={"cap": 10})
    assert strip_meta(got) == strip_meta(want)
    assert got.results[0].result["unexpected_count"] == 0

    again = compiled.validate(df, evaluation_parameters={"cap": 10})
    assert "compile" not in again.meta["phase_times"]
    assert strip_meta(again) == strip_meta(got)


def test_compiled_schema_type_mismatch_raises(spark):
    """Same names, different types must raise — compilers
    type-specialize against the compiled schema."""
    suite = ges.suite("types").expect(
        "expect_column_values_to_be_between", column="x",
        min_value=0, max_value=5,
    )
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    stringy = T.StructType(
        [
            T.StructField("x", T.StringType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame([("1", 1.0, "a")], stringy)
    with pytest.raises(ValueError, match="recompile"):
        compiled.validate(df)


def test_compiled_params_fast_path_and_bounded_cache(spark):
    """Passing the already-compiled effective params must NOT
    recompile; alternating value-sets are memoized per set."""
    suite = ges.suite("pcache").expect(
        "expect_column_values_to_be_between", column="x",
        min_value=0, max_value={"$PARAMETER": "cap"},
    )
    suite.evaluation_parameters = {"cap": 3}
    compiled = ges.compile_suite(suite, SCHEMA, spark)
    df = spark.createDataFrame(BATCH_A, SCHEMA)

    # same values as compiled → fast path, no rebind entry
    res = compiled.validate(df, evaluation_parameters={"cap": 3})
    assert res.results[0].result["unexpected_count"] == 1
    assert len(compiled._rebound) == 0

    # alternating sets → one memoized rebind each, reused thereafter
    for cap in (5, 10, 5, 10, 5):
        compiled.validate(df, evaluation_parameters={"cap": cap})
    assert len(compiled._rebound) == 2
    rebound_ids = {id(v) for v in compiled._rebound.values()}
    compiled.validate(df, evaluation_parameters={"cap": 5})
    assert {id(v) for v in compiled._rebound.values()} == rebound_ids


def test_compiled_sketch_partials(spark):
    """approximate=True (HLL distinct + KLL quantile sketch partials)
    flows through the compile-once path: the hoisted plan carries the
    sketch merges and two different batches produce estimates matching
    one-shot validation on the same batch."""
    from great_expectations_spark.data.images import images_df

    suite = (
        ges.suite("sk")
        .expect("expect_column_unique_value_count_to_be_between",
                column="image_id", min_value=1, max_value=10**9,
                approximate=True)
        .expect("expect_column_median_to_be_between", column="w",
                min_value=0, max_value=10**6, approximate=True)
    )
    b1 = images_df(spark, n_rows=2000, seed=21)
    b2 = images_df(spark, n_rows=3000, seed=22)
    compiled = ges.compile_suite(suite, b1.schema, spark)
    for b in (b1, b2):
        got = compiled.validate(b)
        ref = ges.validate(b, suite)
        assert [r.success for r in got.results] == [
            r.success for r in ref.results
        ]
        # HLL estimate is deterministic for a given input set
        assert (
            got.results[0].result["observed_value"]
            == ref.results[0].result["observed_value"]
        )
        # KLL is randomized in compaction: same data, close estimate
        med_c = got.results[1].result["observed_value"]
        med_r = ref.results[1].result["observed_value"]
        lo, hi = b.selectExpr("cast(w as double) w").approxQuantile(
            "w", [0.4, 0.6], 0.0
        )
        assert lo <= med_c <= hi and lo <= med_r <= hi


def test_job_clock_covers_its_prefetch_wait(spark):
    """A job check's phase time includes the wait for its own
    prefetch thread, so that wait is attributed to the check rather
    than left unclocked."""
    import time

    from great_expectations_spark.operators.checks import JobCheck

    df = spark.createDataFrame(BATCH_A, SCHEMA)
    suite = ges.suite("clk").expect(
        "expect_column_values_to_be_unique", column="x"
    )
    compiled = ges.compile_suite(suite, df.schema, spark)
    slowed = 0
    for dom in compiled.domains:
        for chk in dom.checks:
            if isinstance(chk, JobCheck) and chk.prefetch is not None:
                def slow(df_, cache, orig=chk.prefetch):
                    time.sleep(3.0)
                    orig(df_, cache)

                chk.prefetch = slow
                slowed += 1
    assert slowed == 1
    res = compiled.validate(df)
    assert res.results[0].success
    # the prefetch starts before the single pass, so the 3 s it takes
    # are covered by the single-pass clock and then by the job clock
    times = res.meta["phase_times"]
    assert set(times) == {
        "single_pass", "job:expect_column_values_to_be_unique"
    }, times
    assert sum(times.values()) >= 2.95, times
