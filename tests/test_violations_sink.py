"""Distributed violations export: full violation set to parquet with
counts identical to validate(), no driver collect."""

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.data.images import images_df
from great_expectations_spark.plans.violations_sink import (
    violations_frame,
    write_violations,
)


def test_sink_matches_validate_counts(spark, tmp_path):
    df = images_df(spark, 4000, 42)
    s = (
        ges.suite("v")
        .expect("expect_column_values_to_not_be_null", column="caption")
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"])
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0)
    )
    path = str(tmp_path / "violations")
    write_violations(df, s, path, id_columns=["image_id"])
    out = spark.read.parquet(path)
    sink_counts = {
        r["check_index"]: r["count"]
        for r in out.groupBy("check_index").count().collect()
    }
    res = ges.validate(df, s, result_format="BASIC")
    for i, r in enumerate(res.results):
        expected = r.result["unexpected_count"]
        assert sink_counts.get(i, 0) == expected, (
            r.expectation_config.expectation_type
        )
    # id passthrough + metadata join intact
    assert {"image_id", "check_index", "value", "expectation_type",
            "column"} <= set(out.columns)
    assert out.where(F.col("expectation_type").isNull()).count() == 0


def test_sink_requires_map_conditions(spark):
    df = images_df(spark, 100, 7)
    s = ges.suite("agg-only").expect(
        "expect_column_mean_to_be_between", column="w",
        min_value=0, max_value=100,
    )
    with pytest.raises(ValueError, match="no exportable map conditions"):
        violations_frame(df, s)


def test_sink_exports_zscore_violations(spark):
    """Deferred (z-score) checks are exported too: their conditions
    are built from stats resolved by one column-pruned agg, and the
    exported rows per check equal validate()'s unexpected_count."""
    df = images_df(spark, 2000, 13)
    s = (
        ges.suite("vz")
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=1.0, double_sided=True)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="h", threshold=0.5, double_sided=False)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"])
    )
    out = violations_frame(df, s, id_columns=["image_id"])
    sink_counts = {
        r["check_index"]: r["count"]
        for r in out.groupBy("check_index").count().collect()
    }
    res = ges.validate(df, s, result_format="BASIC")
    for i, r in enumerate(res.results):
        assert sink_counts.get(i, 0) == r.result["unexpected_count"], i
    assert sink_counts[0] > 0 and sink_counts[1] > 0
