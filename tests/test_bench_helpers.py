"""bench.py stays importable without Spark, keeps the flagship suite
perfbench imports, and its fresh-process suite run works end to end."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the order perfbench/workloads.expected_results indexes
IMAGE_SUITE_TYPES = [
    "expect_table_columns_to_match_set",
    "expect_column_values_to_not_be_null",
    "expect_column_values_to_be_in_set",
    "expect_column_values_to_be_between",
    "expect_column_values_to_be_between",
    "expect_column_value_lengths_to_be_between",
    "expect_column_mean_to_be_between",
    "expect_column_unique_value_count_to_be_between",
    "expect_column_values_to_be_unique",
    "expect_image_bytes_to_be_decodable",
    "expect_image_dimensions_to_match_metadata",
    "expect_image_format_to_match_metadata",
    "expect_image_phash_to_match",
]


def test_import_starts_no_session_and_suite_matches_perfbench():
    # a fresh interpreter: this test process may already hold a session
    probe = (
        "import json, bench\n"
        "from pyspark import SparkContext\n"
        "print(json.dumps([SparkContext._active_spark_context is None,"
        " [c.expectation_type for c in bench.image_suite().expectations]]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    no_session, types = json.loads(out.stdout.strip().splitlines()[-1])
    assert no_session
    assert types == IMAGE_SUITE_TYPES

    from perfbench.workloads import expected_results

    ref = dict.fromkeys(
        ["rows", "caption_null", "fmt_bad", "w_bad", "h_bad",
         "caption_len_bad", "w_mean", "fmt_distinct", "dup_rows",
         "undecodable", "dims_bad", "fmt_mismatch", "phash_bad"],
        1,
    )
    assert len(expected_results(ref, zscore=False)) == len(types)


def test_suite_run_subprocess_smoke(spark):
    from great_expectations_spark.data.images import write_images_table

    rows = 2000
    path = f"/tmp/ges_bench_images_{rows}"  # bench.IMG_PATH at this size
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_images_table(spark, path, n_rows=rows, seed=42)
    env = dict(os.environ, SPARK_GRAFT_IMG_ROWS=str(rows))
    out = subprocess.run(
        [sys.executable, "bench.py", "--suite-run", "2", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1
    res = json.loads(lines[0])
    assert res["rows"] == rows
    assert res["expectations"] == 13
    assert len(res["times"]) == 1
