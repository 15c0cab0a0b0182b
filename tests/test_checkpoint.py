"""Checkpointed-run semantics: result parity with in-process
validation, group-grained resume (completed groups are never
recomputed), snapshot pinning, and lineage/metrics outputs."""

import json
import os

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.checkpoint import CheckpointRunner
from great_expectations_spark.data.images import images_df


def make_table(spark, tmp_path, n=3000, seed=42):
    path = str(tmp_path / "images")
    images_df(spark, n_rows=n, seed=seed).write.mode("overwrite").partitionBy(
        "fmt"
    ).parquet(path)
    return path


def the_suite():
    return (
        ges.suite("ckpt")
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"], mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
        .expect("expect_column_stdev_to_be_between", column="h",
                min_value=0, max_value=100)
        .expect("expect_column_unique_value_count_to_be_between",
                column="fmt", min_value=1, max_value=10)
        .expect("expect_column_values_to_be_unique", column="image_id",
                mostly=0.99)
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
    )


def test_checkpoint_matches_inprocess_validation(spark, tmp_path):
    path = make_table(spark, tmp_path)
    df = spark.read.parquet(path)
    expected = ges.validate(df, the_suite(), result_format="SUMMARY")

    runner = CheckpointRunner(
        spark, path, the_suite(), str(tmp_path / "state"), "r1",
        group_col="fmt",
    )
    got = runner.run()

    assert got.success == expected.success
    for e, g in zip(expected.results, got.results):
        typ = e.expectation_config.expectation_type
        assert e.success == g.success, typ
        er, gr = e.result or {}, g.result or {}
        for k in ("element_count", "unexpected_count"):
            if k in er:
                assert er[k] == gr[k], (typ, k)
        if "observed_value" in er and isinstance(
            er["observed_value"], float
        ):
            assert gr["observed_value"] == pytest.approx(
                er["observed_value"], rel=1e-9
            ), typ
    # jpeg/png/webp plus the injected out-of-set 'tiff' defect rows
    assert got.meta["groups_total"] >= 3


def test_checkpoint_resume_skips_done_groups(spark, tmp_path):
    path = make_table(spark, tmp_path)
    state = str(tmp_path / "state")
    r1 = CheckpointRunner(
        spark, path, the_suite(), state, "r2", group_col="fmt"
    )
    first = r1.run()
    assert first.meta["groups_computed"] > 0
    assert first.meta["groups_resumed"] == 0

    # resume in a fresh runner: every group must be skipped
    r2 = CheckpointRunner(
        spark, path, the_suite(), state, "r2", group_col="fmt"
    )
    r2._run_group = None  # would TypeError if any group recomputed
    second = r2.run()
    assert second.meta["groups_computed"] == 0
    assert second.meta["groups_resumed"] == first.meta["groups_total"]
    assert second.success == first.success

    # partial resume: drop ONE group's committed state
    files = sorted(os.listdir(os.path.join(state, "run=r2", "groups")))
    os.remove(os.path.join(state, "run=r2", "groups", files[0]))
    r3 = CheckpointRunner(
        spark, path, the_suite(), state, "r2", group_col="fmt"
    )
    third = r3.run()
    assert third.meta["groups_computed"] == 1
    assert third.meta["groups_resumed"] == first.meta["groups_total"] - 1
    # merged result identical after the partial recompute
    assert [r.success for r in third.results] == [
        r.success for r in first.results
    ]


def test_checkpoint_rejects_changed_snapshot(spark, tmp_path):
    path = make_table(spark, tmp_path, n=1000)
    state = str(tmp_path / "state")
    CheckpointRunner(
        spark, path, the_suite(), state, "r3", group_col="fmt"
    ).run()
    # mutate the input table -> resumed run must refuse
    images_df(spark, n_rows=1200, seed=43).write.mode(
        "overwrite"
    ).partitionBy("fmt").parquet(path)
    with pytest.raises(RuntimeError, match="snapshot changed"):
        CheckpointRunner(
            spark, path, the_suite(), state, "r3", group_col="fmt"
        ).run()


def test_checkpoint_outputs(spark, tmp_path):
    path = make_table(spark, tmp_path, n=1000)
    state = str(tmp_path / "state")
    CheckpointRunner(
        spark, path, the_suite(), state, "r4", group_col="fmt"
    ).run()
    run_dir = os.path.join(state, "run=r4")
    lineage = spark.read.parquet(os.path.join(run_dir, "lineage.parquet"))
    assert lineage.count() >= 3
    assert set(lineage.columns) >= {"run_id", "group", "status", "duration_s"}
    assert lineage.where(F.col("status") != "done").count() == 0
    metrics = spark.read.parquet(os.path.join(run_dir, "metrics.parquet"))
    assert metrics.where(F.col("metric") == "p0").count() > 0
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    assert "statistics" in res and res["statistics"]["evaluated_expectations"] == 7


def test_checkpoint_null_group_values(spark, tmp_path):
    """A NULL in group_col must land in its own group (isNull filter,
    __null__.json state file) — col == lit(None) matches no rows and
    would silently drop them from every count."""
    df = images_df(spark, n_rows=2000, seed=42)
    df = df.withColumn(
        "fmt",
        F.when(
            F.crc32(F.col("image_id")) % 11 == 0,
            F.lit(None).cast("string"),
        ).otherwise(F.col("fmt")),
    )
    path = str(tmp_path / "images_null")
    df.write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)
    n_null = persisted.where(F.col("fmt").isNull()).count()
    assert n_null > 0

    suite = (
        ges.suite("nullgrp")
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
    )
    expected = ges.validate(persisted, suite, result_format="SUMMARY")

    state = str(tmp_path / "state_null")
    runner = CheckpointRunner(
        spark, path, suite, state, "rn", group_col="fmt"
    )
    got = runner.run()

    # element_count must include the NULL-group rows
    for e, g in zip(expected.results, got.results):
        er, gr = e.result or {}, g.result or {}
        if "element_count" in er:
            assert er["element_count"] == gr["element_count"]
        assert e.success == g.success
    assert os.path.exists(
        os.path.join(state, "run=rn", "groups", "__null__.json")
    )


def test_checkpoint_actions(spark, tmp_path):
    from great_expectations_spark.checkpoint.actions import (
        CopyResultAction,
        FailureSummaryAction,
    )

    path = make_table(spark, tmp_path, n=800)
    state = str(tmp_path / "state_act")
    seen = {}

    def my_hook(result, runner):
        seen["run_id"] = runner.run_id
        seen["success"] = result.success
        return "hooked"

    def broken(result, runner):
        raise RuntimeError("boom")

    dest = str(tmp_path / "mirror")
    log = str(tmp_path / "failures.log")
    runner = CheckpointRunner(
        spark, path, the_suite(), state, "ra", group_col="fmt",
        actions=[
            my_hook,
            broken,
            CopyResultAction(dest),
            FailureSummaryAction(log),
        ],
    )
    res = runner.run()

    assert seen["run_id"] == "ra"
    ar = res.meta["actions_results"]
    assert [a["action"] for a in ar] == [
        "my_hook", "broken", "CopyResultAction", "FailureSummaryAction",
    ]
    assert ar[0] == {"action": "my_hook", "success": True, "result": "hooked"}
    # a failing action is isolated: recorded, later actions still ran
    assert ar[1]["success"] is False and "boom" in ar[1]["error"]
    assert os.path.exists(os.path.join(dest, "ra.json"))
    assert ar[3]["success"] is True


def test_checkpoint_data_docs_action(spark, tmp_path):
    from great_expectations_spark.render import UpdateDataDocsAction

    path = make_table(spark, tmp_path, n=600)
    site = str(tmp_path / "site")
    runner = CheckpointRunner(
        spark, path, the_suite(), str(tmp_path / "state_docs"), "docs1",
        group_col="fmt", actions=[UpdateDataDocsAction(site)],
    )
    res = runner.run()

    ar = res.meta["actions_results"]
    assert ar[0]["action"] == "UpdateDataDocsAction"
    assert ar[0]["success"] is True
    page_path = ar[0]["result"]["page"]
    assert page_path == os.path.join(site, "validations", "docs1.html")
    page = open(page_path).read()

    # header: suite name + overall status badge
    assert "ckpt" in page
    assert ("Succeeded" in page) or ("Failed" in page)
    # statistics block renders every suite-statistics key with values
    for key, val in res.statistics.items():
        assert key.replace("_", " ") in page, key
    assert str(res.statistics["evaluated_expectations"]) in page
    # one row per expectation: type, column, pass/fail marker
    for evr in res.results:
        assert evr.expectation_config.expectation_type in page
    assert page.count("<tr>") >= len(res.results) + 1
    assert ("✓ pass" in page) or ("✗ fail" in page)
    # map-expectation rows surface unexpected counts from the result
    any_map = next(
        r for r in res.results if "unexpected_count" in (r.result or {})
    )
    assert f"{any_map.result['unexpected_count']} unexpected" in page

    # the index lists the run and re-renders on a second run
    index = open(os.path.join(site, "index.html")).read()
    assert "validations/docs1.html" in index
    runner2 = CheckpointRunner(
        spark, path, the_suite(), str(tmp_path / "state_docs"), "docs2",
        group_col="fmt", actions=[UpdateDataDocsAction(site)],
    )
    runner2.run()
    index = open(os.path.join(site, "index.html")).read()
    assert "validations/docs1.html" in index
    assert "validations/docs2.html" in index


def test_render_page_escapes_and_handles_exceptions(tmp_path):
    from great_expectations_spark.core.config import (
        ExpectationConfiguration,
    )
    from great_expectations_spark.core.result import (
        ExpectationSuiteValidationResult,
        ExpectationValidationResult,
        exception_result,
    )
    from great_expectations_spark.render import render_suite_result_page

    cfg = ExpectationConfiguration(
        "expect_column_values_to_match_regex",
        kwargs={"column": "c<aption>", "regex": "<script>&"},
    )
    ok = ExpectationValidationResult(
        success=True,
        expectation_config=cfg,
        result={
            "element_count": 10,
            "unexpected_count": 2,
            "unexpected_percent": 20.0,
            "partial_unexpected_list": ["<img onerror=x>", "b&b"],
        },
    )
    bad = exception_result(
        ExpectationConfiguration(
            "expect_column_mean_to_be_between", kwargs={"column": "w"}
        ),
        RuntimeError("boom <tag>"),
    )
    suite_res = ExpectationSuiteValidationResult.from_results([ok, bad])
    page = render_suite_result_page(suite_res, "s<uite>", "r<1>")
    # raw HTML from user data never reaches the page unescaped
    assert "<script>" not in page
    assert "<img onerror" not in page
    assert "&lt;script&gt;" in page
    assert "exception: boom &lt;tag&gt;" in page
    assert "sample violations:" in page


def _assert_parity(expected, got):
    assert [r.success for r in expected.results] == [
        r.success for r in got.results
    ]
    for e, g in zip(expected.results, got.results):
        er, gr = e.result or {}, g.result or {}
        for k in ("element_count", "unexpected_count"):
            if k in er:
                assert er[k] == gr[k], (
                    e.expectation_config.expectation_type, k,
                )


def test_checkpoint_row_condition_domains(spark, tmp_path):
    """Checkpointed runs now execute row_condition domains: each
    domain gets its own resumable group grid (state files tagged by
    a domain content hash), results match in-process validate."""
    path = make_table(spark, tmp_path, n=2000)
    df = spark.read.parquet(path)

    suite = (
        ges.suite("rc-ckpt")
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=1, max_value=64,
                row_condition='col("w")>16',
                condition_parser="great_expectations")
        .expect("expect_column_values_to_be_between", column="h",
                min_value=1, max_value=64,
                row_condition="fmt = 'png'")
    )
    expected = ges.validate(df, suite, result_format="SUMMARY")
    state = str(tmp_path / "state_rc")
    got = CheckpointRunner(
        spark, path, suite, state, "rrc", group_col="fmt"
    ).run()
    _assert_parity(expected, got)

    # domain-tagged state files exist alongside untagged ones
    files = os.listdir(os.path.join(state, "run=rrc", "groups"))
    assert any("__d" in f for f in files)
    assert any("__d" not in f for f in files)

    # resume: everything skipped, same result
    r2 = CheckpointRunner(
        spark, path, suite, state, "rrc", group_col="fmt"
    )
    second = r2.run()
    assert second.meta["groups_computed"] == 0
    assert second.meta["groups_resumed"] == got.meta["groups_total"]
    _assert_parity(expected, second)


def test_checkpoint_deferred_zscore(spark, tmp_path):
    """Deferred (z-score) conditions run as a finalize-time second
    pass against the merged stats — parity with in-process."""
    path = make_table(spark, tmp_path, n=2000)
    df = spark.read.parquet(path)
    suite = (
        ges.suite("z-ckpt")
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=0.5, double_sided=True,
                mostly=0.8)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=1, max_value=64)
    )
    expected = ges.validate(df, suite, result_format="SUMMARY")
    got = CheckpointRunner(
        spark, path, suite, str(tmp_path / "state_z"), "rz",
        group_col="fmt",
    ).run()
    _assert_parity(expected, got)
    zr = got.results[0].result
    assert zr["element_count"] == 2000
    assert zr["unexpected_count"] > 0


def test_checkpoint_binds_evaluation_parameters(spark, tmp_path):
    """A suite using {"$PARAMETER": ...} must checkpoint identically
    to in-process validate (the runner binds parameters at compile)."""
    path = make_table(spark, tmp_path, n=800)
    df = spark.read.parquet(path)
    suite = ges.suite("ep-ckpt")
    suite.evaluation_parameters = {"lo": 1, "hi": 64}
    suite.expect(
        "expect_column_mean_to_be_between",
        column="w",
        min_value={"$PARAMETER": "lo"},
        max_value={"$PARAMETER": "hi"},
    )
    expected = ges.validate(df, suite, result_format="SUMMARY")
    assert expected.success
    got = CheckpointRunner(
        spark, path, suite, str(tmp_path / "state_ep"), "rep",
        group_col="fmt",
    ).run()
    _assert_parity(expected, got)
    # runtime parameters override the suite's
    got2 = CheckpointRunner(
        spark, path, suite, str(tmp_path / "state_ep2"), "rep2",
        group_col="fmt", evaluation_parameters={"hi": 2},
    ).run()
    assert got2.results[0].success is False


def test_checkpoint_null_vs_literal_null_group(spark, tmp_path):
    """A literal string group '__null__' must not collide with the
    NULL group's state file (injective percent-encoded naming)."""
    df = images_df(spark, n_rows=600, seed=4).withColumn(
        "fmt",
        F.when(F.crc32(F.col("image_id")) % 3 == 0, F.lit(None))
        .when(F.crc32(F.col("image_id")) % 3 == 1, F.lit("__null__"))
        .otherwise(F.col("fmt")),
    )
    path = str(tmp_path / "imgs_nl")
    df.write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)
    suite = ges.suite("nl").expect(
        "expect_column_values_to_not_be_null", column="caption",
        mostly=0.99,
    )
    expected = ges.validate(persisted, suite, result_format="SUMMARY")
    state = str(tmp_path / "state_nl")
    got = CheckpointRunner(
        spark, path, suite, state, "rnl", group_col="fmt"
    ).run()
    _assert_parity(expected, got)
    files = os.listdir(os.path.join(state, "run=rnl", "groups"))
    assert "__null__.json" in files          # the NULL group
    assert "v__null__.json" in files         # the literal string


def test_checkpoint_urn_evaluation_parameters(spark, tmp_path):
    """Cross-suite gating: suite B's threshold comes from suite A's
    STORED metric via urn:great_expectations:validations:... —
    the reference's URN-store resolution path
    (core/evaluation_parameters.py:205-246, core/urn.py) backed by
    the checkpoint state directory."""
    path = make_table(spark, tmp_path)
    state = str(tmp_path / "state")

    suite_a = ges.suite("profile_a").expect(
        "expect_column_mean_to_be_between", column="w",
        min_value=0, max_value=100,
    )
    res_a = CheckpointRunner(spark, path, suite_a, state, "a1").run()
    mean_w = res_a.results[0].result["observed_value"]

    urn = ("urn:great_expectations:validations:profile_a:"
           "expect_column_mean_to_be_between.result.observed_value:"
           "column=w")
    suite_b = ges.suite("gate_b").expect(
        "expect_column_mean_to_be_between", column="w",
        min_value={"$PARAMETER": f"{urn} * 0.9"},
        max_value={"$PARAMETER": f"{urn} * 1.1"},
    )
    res_b = CheckpointRunner(spark, path, suite_b, state, "b1").run()
    assert res_b.results[0].success
    kw = res_b.results[0].expectation_config.kwargs
    assert kw["min_value"] == pytest.approx(mean_w * 0.9)
    assert kw["max_value"] == pytest.approx(mean_w * 1.1)

    # a bare URN substitutes the stored value verbatim
    suite_c = ges.suite("gate_c").expect(
        "expect_column_mean_to_be_between", column="w",
        min_value={"$PARAMETER": urn},
        max_value={"$PARAMETER": urn},
    )
    res_c = CheckpointRunner(spark, path, suite_c, state, "c1").run()
    assert res_c.results[0].expectation_config.kwargs[
        "min_value"
    ] == pytest.approx(mean_w)

    # unresolvable URN stays a loud per-expectation error
    suite_d = ges.suite("gate_d").expect(
        "expect_column_mean_to_be_between", column="w",
        min_value={"$PARAMETER":
                   "urn:great_expectations:validations:nope:"
                   "expect_column_mean_to_be_between"
                   ".result.observed_value"},
        max_value=100,
    )
    res_d = CheckpointRunner(spark, path, suite_d, state, "d1").run()
    assert not res_d.results[0].success
    assert "No value found" in str(res_d.results[0].exception_info)


def _sample_key(v):
    return json.dumps(v, sort_keys=True, default=str)


@pytest.mark.parametrize("group_col", [None, "fmt"])
def test_checkpoint_complete_matches_validate(spark, tmp_path, group_col):
    """The runner finalizes through the planner. Ungrouped at
    COMPLETE, every EVR equals validate's, sample order included.
    Grouped, counts, observed values and the full unexpected_list
    (as a multiset: groups concatenate in grid order) are kept. The
    meta carries the validator's phase times and decisions."""
    path = make_table(spark, tmp_path, n=1500)
    df = spark.read.parquet(path)
    suite = (
        the_suite()
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=1.0, double_sided=True, mostly=0.5)
        .expect("expect_column_values_to_be_between", column="h",
                min_value=1, max_value=20, row_condition="fmt = 'png'")
    )
    expected = ges.validate(df, suite, result_format="COMPLETE")
    got = CheckpointRunner(
        spark, path, suite, str(tmp_path / "state"), "rc",
        group_col=group_col, result_format="COMPLETE",
    ).run()

    if group_col is None:
        assert [r.to_json_dict() for r in got.results] == [
            r.to_json_dict() for r in expected.results
        ]
    for e, g in zip(expected.results, got.results):
        typ = e.expectation_config.expectation_type
        assert e.success == g.success, typ
        er, gr = e.result or {}, g.result or {}
        assert set(er) == set(gr), typ
        for k, v in er.items():
            if k.startswith("partial_unexpected"):
                continue  # the first K in concatenation order
            if k == "unexpected_list":
                assert sorted(map(_sample_key, gr[k])) == sorted(
                    map(_sample_key, v)
                ), typ
            elif isinstance(v, float):
                assert gr[k] == pytest.approx(v, rel=1e-9), (typ, k)
            else:
                assert gr[k] == v, (typ, k)
    assert any(r.result.get("unexpected_list") for r in got.results)

    times = got.meta["phase_times"]
    assert {"compile", "single_pass", "deferred",
            "job:expect_column_values_to_be_unique"} <= set(times)
    assert [d["op"] for d in got.meta["decisions"]] == [
        "dup_groups:image_id"
    ]


def test_only_the_planner_compiles():
    """One compile path: inside the package, only plans/planner.py
    compiles configs and binds $PARAMETER kwargs."""
    import pathlib
    import re

    pkg = pathlib.Path(ges.__file__).parent
    call = re.compile(
        r"(?<!def )\b(get_compiler|build_evaluation_parameters)\("
    )
    callers = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if call.search(p.read_text())
    )
    assert callers == ["plans/planner.py"]
