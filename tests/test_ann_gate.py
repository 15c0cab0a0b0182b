"""Declarative ANN-recall gate (expect_ann_recall_to_be_greater_than):
the label-vs-geometry failure the ann_recall audit query exposed
(random label buckets -> recall@3 ~0.17; learned k-means buckets ->
~0.80) must be suite-failable, with deterministic EVRs. Runs on the driver-generated sf0.001 embeddings parquet, whose
`label` column is deliberately non-geometric."""

import os

import pytest

import great_expectations_spark as ges
from great_expectations_spark.operators.ann_gate import ann_recall_at_k

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def embeddings(spark):
    path = os.path.join(SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no testdata at {path}")
    return spark.read.parquet(path)


def _gate_suite(method, min_recall):
    return ges.suite(f"ann-gate-{method}").expect(
        "expect_ann_recall_to_be_greater_than",
        min_recall=min_recall,
        method=method,
        k=3,
        n_queries=10,
        kmeans_k=8,
        kmeans_iters=2,
    )


def test_label_buckets_fail_kmeans_passes(embeddings):
    """The r4 audit finding as a gate: non-geometric label buckets
    must FAIL a 0.5-recall gate while learned k-means buckets PASS
    the same gate on the same table."""
    bucket = ann_recall_at_k(embeddings, method="bucket")
    kmeans = ann_recall_at_k(embeddings, method="kmeans")
    assert bucket["recall"] is not None and kmeans["recall"] is not None
    assert bucket["recall"] < 0.5, bucket
    assert kmeans["recall"] > 0.5, kmeans
    # and through the declarative face:
    fail_res = ges.SparkValidator(
        embeddings, _gate_suite("bucket", 0.5)
    ).validate()
    pass_res = ges.SparkValidator(
        embeddings, _gate_suite("kmeans", 0.5)
    ).validate()
    assert not fail_res.results[0].success
    assert pass_res.results[0].success
    obs = pass_res.results[0].result["observed_value"]
    assert obs == kmeans["recall"]
    det = fail_res.results[0].result["details"]
    assert det["min_recall"] == 0.5
    assert det["hits"] <= det["exact_neighbors"]


def test_repeated_runs_identical_evrs(embeddings):
    for method in ("bucket", "kmeans"):
        suite = _gate_suite(method, 0.5)
        a, b = (
            ges.SparkValidator(embeddings, suite).validate().results[0]
            for _ in range(2)
        )
        assert a.success == b.success
        assert a.result == b.result
        direct = ann_recall_at_k(
            embeddings, method=method, k=3, n_queries=10, kmeans_k=8,
            kmeans_iters=2,
        )
        assert a.result["observed_value"] == direct["recall"]


def test_strict_greater_and_unmeasurable_sample(spark):
    """Boundary: recall == min_recall is NOT a pass (strictly
    greater), and an all-zero-vector corpus (no live exact
    neighbors) FAILS with observed_value None — a gate that cannot
    measure must not pass."""
    from pyspark.sql import functions as F

    # 12 identical one-hot vectors in one bucket: recall == 1.0
    rows = [(i, 0, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    res = ges.SparkValidator(
        df,
        ges.suite("b").expect(
            "expect_ann_recall_to_be_greater_than",
            min_recall=1.0, method="bucket", k=3, n_queries=2,
        ),
    ).validate()
    assert not res.results[0].success
    assert res.results[0].result["observed_value"] == 1.0

    dead = df.select(
        "vec_id", "label",
        F.expr("array(0.0d, 0.0d, 0.0d, 0.0d)").alias("embedding"),
    )
    res2 = ges.SparkValidator(
        dead,
        ges.suite("d").expect(
            "expect_ann_recall_to_be_greater_than",
            min_recall=0.0, method="bucket", k=3, n_queries=2,
        ),
    ).validate()
    assert not res2.results[0].success
    assert res2.results[0].result["observed_value"] is None


def _vectors(spark, label_type):
    rows = [(i, i % 3, [1.0, float(i), 0.0]) for i in range(12)]
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).selectExpr(
        "vec_id", f"cast(label as {label_type}) as label", "embedding"
    )


@pytest.mark.parametrize("iters", [0, -1])
def test_kmeans_iters_below_one_is_an_exception_evr(spark, iters):
    """k-means with no assignment has no buckets: the gate fails to
    compile with a ValueError (an exception EVR, no Spark job), and the
    kernel itself raises the same error."""
    from great_expectations_spark import suite_queries as sq

    df = _vectors(spark, "int")
    r = ges.SparkValidator(
        df,
        ges.suite("km").expect(
            "expect_ann_recall_to_be_greater_than",
            min_recall=0.0, method="kmeans", kmeans_iters=iters,
        ),
    ).validate().results[0]
    assert r.exception_info["raised_exception"]
    msg = f"k-means needs iters >= 1, got {iters}"
    assert r.exception_info["exception_message"] == msg
    base = df.selectExpr("vec_id as nid", "embedding as v")
    with pytest.raises(ValueError, match="iters >= 1"):
        sq.kmeans_buckets(base, 2, iters)


@pytest.mark.parametrize("label_type", ["string", "bigint"])
def test_bucket_label_type_is_rejected(spark, label_type):
    """The bucket probe emits `bid int`: a string or long label column
    is rejected by the gate compiler with a ValueError naming the type,
    not left to crash in the Python worker."""
    df = _vectors(spark, label_type)
    r = ges.SparkValidator(
        df,
        ges.suite("bt").expect(
            "expect_ann_recall_to_be_greater_than",
            min_recall=0.0, method="bucket", n_queries=2,
        ),
    ).validate().results[0]
    assert r.exception_info["raised_exception"]
    assert f"has type {label_type}" in r.exception_info["exception_message"]
    with pytest.raises(ValueError, match=f"has type {label_type}"):
        ann_recall_at_k(df, method="bucket", n_queries=2)


@pytest.mark.parametrize("label_type", ["tinyint", "smallint"])
def test_small_int_bucket_labels_are_accepted(spark, label_type):
    r = ann_recall_at_k(_vectors(spark, label_type), method="bucket",
                        n_queries=2)
    assert r["recall"] is not None
