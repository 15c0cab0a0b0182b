"""Concurrent validation execution (reference: AsyncExecutor,
checkpoint/checkpoint.py:389-401 + core/async_executor.py:63-138):
N independent suites through a bounded thread pool over ONE
SparkSession must produce EVRs identical to running them
sequentially, finish faster wall-clock, and isolate failures
per-slot. CheckpointRunner(max_concurrent_groups>1) must be
state-file- and result-identical to the sequential runner."""

import time

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.checkpoint import (
    CheckpointRunner,
    run_validations,
)
from great_expectations_spark.data.images import images_df


def _suite(tag: str):
    return (
        ges.suite(f"conc-{tag}")
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"], mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
        .expect("expect_column_values_to_be_unique", column="image_id",
                mostly=0.99)
    )


def _evr_view(result):
    return [
        (
            e.expectation_config.expectation_type,
            e.success,
            (e.result or {}).get("element_count"),
            (e.result or {}).get("unexpected_count"),
        )
        for e in result.results
    ]


def test_concurrent_validations_match_sequential_and_are_faster(spark):
    dfs = [
        images_df(spark, n_rows=40000, seed=s).persist() for s in range(4)
    ]
    for df in dfs:
        df.count()  # materialize outside the timed windows
    thunks = [
        (lambda d=df, i=i: ges.validate(d, _suite(str(i))))
        for i, df in enumerate(dfs)
    ]

    t0 = time.time()
    seq = run_validations(thunks, max_concurrency=1)
    t_seq = time.time() - t0

    t0 = time.time()
    conc = run_validations(thunks, max_concurrency=4, spark=spark)
    t_conc = time.time() - t0

    assert [_evr_view(r) for r in seq] == [_evr_view(r) for r in conc]
    # the wall-time claim of the feature: overlapping driver phases
    # with cluster phases beats strictly-sequential execution. This
    # host's throughput swings ~30% across minutes (hypervisor
    # neighbors), so one re-measure is allowed before declaring a
    # regression — a real loss of overlap fails both attempts.
    if t_conc >= t_seq:
        t0 = time.time()
        run_validations(thunks, max_concurrency=1)
        t_seq = time.time() - t0
        t0 = time.time()
        run_validations(thunks, max_concurrency=4, spark=spark)
        t_conc = time.time() - t0
    assert t_conc < t_seq, (t_conc, t_seq)
    for df in dfs:
        df.unpersist()


def test_concurrent_validations_isolate_failures(spark):
    df = images_df(spark, n_rows=2000, seed=1)

    def boom():
        raise RuntimeError("slot 1 fails")

    out = run_validations(
        [lambda: ges.validate(df, _suite("ok")), boom],
        max_concurrency=2,
        spark=spark,
    )
    assert out[0].success in (True, False)  # a real result object
    assert isinstance(out[1], RuntimeError)
    # sequential path isolates identically
    out_seq = run_validations(
        [lambda: ges.validate(df, _suite("ok")), boom], max_concurrency=1
    )
    assert isinstance(out_seq[1], RuntimeError)


def test_threaded_sketch_merges_match_sequential(spark):
    """HLL/KLL sketch merges run a small Spark job of their own. On a
    pool thread SparkSession.getActiveSession() is None, so the merge
    must use the validated frame's session: the threaded results equal
    the sequential ones and no EVR is an exception. The HLL estimate is
    deterministic and 160 rows keep the KLL sketch exact, so the values
    compare with ==."""
    df = images_df(spark, n_rows=160, seed=31)
    s = (
        ges.suite("sketch-threads")
        .expect("expect_column_values_to_not_be_null", column="caption")
        .expect("expect_column_unique_value_count_to_be_between",
                column="image_id", min_value=1, max_value=10**9,
                approximate=True)
        .expect("expect_column_median_to_be_between", column="w",
                min_value=0, max_value=10**6, approximate=True)
    )

    def view(res):
        return [
            (e.success, (e.exception_info or {}).get("raised_exception"),
             e.result)
            for e in res.results
        ]

    thunks = [lambda: ges.validate(df, s)] * 2
    seq = run_validations(thunks, max_concurrency=1)
    conc = run_validations(thunks, max_concurrency=2, spark=spark)
    assert not any(isinstance(r, Exception) for r in seq + conc)
    for res in seq + conc:
        assert not any(raised for _, raised, _ in view(res)), [
            (e.exception_info or {}).get("exception_message")
            for e in res.results
        ]
    assert [view(r) for r in conc] == [view(r) for r in seq]
    exact = df.select("image_id").distinct().count()
    assert abs(seq[0].results[1].result["observed_value"] - exact) <= (
        4 * 0.05 * exact
    )


def test_checkpoint_concurrent_groups_matches_sequential(spark, tmp_path):
    path = str(tmp_path / "images")
    images_df(spark, n_rows=6000, seed=42).write.partitionBy(
        "fmt"
    ).parquet(path)

    seq = CheckpointRunner(
        spark, path, _suite("s"), str(tmp_path / "st_seq"), "r1",
        group_col="fmt",
    ).run()
    conc = CheckpointRunner(
        spark, path, _suite("s"), str(tmp_path / "st_conc"), "r1",
        group_col="fmt", max_concurrent_groups=4,
    ).run()

    assert _evr_view(seq) == _evr_view(conc)
    assert conc.meta["groups_computed"] == seq.meta["groups_computed"]
    # every group committed its own state file — resume semantics hold
    rerun = CheckpointRunner(
        spark, path, _suite("s"), str(tmp_path / "st_conc"), "r1",
        group_col="fmt", max_concurrent_groups=4,
    ).run()
    assert rerun.meta["groups_resumed"] == conc.meta["groups_computed"]
    assert _evr_view(rerun) == _evr_view(conc)


def test_checkpoint_concurrent_group_failure_propagates(spark, tmp_path):
    """A failing group under the thread pool surfaces as the domain's
    exception EVRs (same isolation contract as the sequential path),
    not a deadlock or a silent skip."""
    path = str(tmp_path / "images")
    images_df(spark, n_rows=2000, seed=2).write.partitionBy("fmt").parquet(
        path
    )
    suite = _suite("rc").expect(
        "expect_column_values_to_not_be_null",
        column="w",
        row_condition='no_such_column > 0',
        condition_parser="spark",
    )
    res = CheckpointRunner(
        spark, path, suite, str(tmp_path / "st"), "r1",
        group_col="fmt", max_concurrent_groups=4,
    ).run()
    bad = [
        e for e in res.results
        if e.expectation_config.kwargs.get("row_condition")
    ]
    assert bad and all(
        e.exception_info and e.exception_info.get("raised_exception")
        for e in bad
    )
    ok = [
        e for e in res.results
        if not e.expectation_config.kwargs.get("row_condition")
    ]
    assert ok and all(e.result for e in ok)
