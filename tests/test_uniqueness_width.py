"""The uniqueness count picks its plan from the check's previous
validate, and its duplicate sample does not depend on that plan.

operators/uniqueness.py counts keys with Spark's groupBy (map-side
partial count, exchange at the session default) unless the same
compiled check last saw near-unique keys; then the keys cross one
`repartition(width, *keys)` exchange, where width is the input's
partition count below spark.sql.shuffle.partitions. Either way the
sample is the smallest duplicated keys. These tests read the
executed plans, the recorded decisions, the task counts, and compare
every EVR against answers computed here in Python."""

import contextlib
import re
from collections import Counter

from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.operators.uniqueness import dup_groups_frame

ROWS = 3000
IN_PARTS = 8
NEAR_UNIQUE = 2900  # 100 keys repeat: about 6% of rows duplicated
REPEATING = 2500  # 500 keys repeat: about 33% of rows duplicated


@contextlib.contextmanager
def shuffle_partitions(spark, n):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def py_key(i, m):
    # bijective on 0..m-1 (37 is prime to m), so ids m.. repeat keys;
    # every 11th row is NULL
    return None if i % 11 == 0 else (i * 37) % m


def keyed(spark, m):
    """ROWS rows of column k = py_key(id, m), in IN_PARTS partitions
    with no exchange in the input plan."""
    return spark.range(0, ROWS, 1, IN_PARTS).select(
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise((F.col("id") * 37) % m)
        .alias("k")
    )


def expected_list(values, cap, sort_key=lambda v: v):
    """The `cap` smallest duplicated keys, each repeated by its count,
    flattened and capped at `cap` values."""
    counts = Counter(values)
    out = []
    for v in sorted((v for v, c in counts.items() if c > 1), key=sort_key):
        out.extend([v] * counts[v])
    return out[:cap]


def unique_k():
    return ges.suite("w").expect(
        "expect_column_values_to_be_unique", column="k"
    )


def _plan(frame):
    # the adaptive plan's final physical plan
    return (
        frame._jdf.queryExecution().executedPlan().executedPlan()
        .toString()
    )


def _validate_tasks(spark, compiled, df):
    """(result, largest task count of any stage) of one validate."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    res = compiled.validate(df)
    tasks = [0]
    for j in set(st.getJobIdsForGroup()) - before:
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None:
                tasks.append(info.numTasks)
    return res, max(tasks)


def test_near_unique_keys_shuffle_at_input_width_after_first_validate(spark):
    df = keyed(spark, NEAR_UNIQUE)
    nonnull = [v for v in (py_key(i, NEAR_UNIQUE) for i in range(ROWS))
               if v is not None]
    dup_rows = sum(c for c in Counter(nonnull).values() if c > 1)
    share = dup_rows / len(nonnull)
    assert 0 < share <= 0.1
    for setting, want in ((200, IN_PARTS), (2, None)):
        with shuffle_partitions(spark, setting):
            compiled = ges.compile_suite(unique_k(), df.schema, spark)
            first = compiled.validate(df)
            second, max_tasks = _validate_tasks(spark, compiled, df)
        assert first.meta["decisions"] == [{
            "op": "dup_groups:k",
            "dup_share": None,
            "input_partitions": None,
            "shuffle_width": None,
            "map_side_partial_agg": True,
        }]
        assert second.meta["decisions"] == [{
            "op": "dup_groups:k",
            "dup_share": share,
            "input_partitions": IN_PARTS,
            "shuffle_width": want,
            "map_side_partial_agg": want is None,
        }], setting
        assert max_tasks <= IN_PARTS, setting

    # the plans of both paths: an explicit exchange at the width with
    # the whole count after it, or groupBy's own exchange after a
    # map-side partial count
    base = df.where(F.col("k").isNotNull())
    with shuffle_partitions(spark, 200):
        narrow = dup_groups_frame(base, ["k"], 20, IN_PARTS)
        narrow.collect()
        plan = _plan(narrow)
        exchanges = re.findall(
            r"Exchange hashpartitioning\(k#\d+L?, (\d+)\), (\w+)", plan
        )
        assert exchanges == [(str(IN_PARTS), "REPARTITION_BY_NUM")], plan
        assert "partial_count" not in plan.split(
            "Exchange hashpartitioning"
        )[1], "map-side partial count before the key exchange"
        grouped = dup_groups_frame(base, ["k"], 20)
        grouped.collect()
        plan = _plan(grouped)
        exchanges = re.findall(
            r"Exchange hashpartitioning\(k#\d+L?, (\d+)\), (\w+)", plan
        )
        assert exchanges == [("200", "ENSURE_REQUIREMENTS")], plan
        assert "partial_count" in plan.split(
            "Exchange hashpartitioning"
        )[1], plan
        assert "AQEShuffleRead" in plan, plan


def test_repeating_and_adaptive_inputs_keep_the_partial_count(spark):
    # a third of the rows duplicated: the partial count stays
    df = keyed(spark, REPEATING)
    # an input whose plan holds an exchange: its partitions are not
    # counted (that would run the exchange), and no explicit width
    # stops adaptive execution from coalescing the key shuffle
    adaptive = keyed(spark, NEAR_UNIQUE).groupBy("k").count().select("k")
    with shuffle_partitions(spark, 200):
        for frame, share in ((df, None), (adaptive, 0.0)):
            compiled = ges.compile_suite(unique_k(), frame.schema, spark)
            compiled.validate(frame)
            res, max_tasks = _validate_tasks(spark, compiled, frame)
            (dec,) = res.meta["decisions"]
            assert dec["map_side_partial_agg"] is True
            assert dec["shuffle_width"] is None
            assert dec["input_partitions"] is None
            if share is None:
                assert dec["dup_share"] > 0.1
            else:
                assert dec["dup_share"] == share
            # every 200-wide exchange was coalesced
            assert max_tasks <= IN_PARTS, max_tasks


def _evr_fields(res):
    r = res.results[0].result
    return (
        res.results[0].success,
        r["unexpected_count"],
        r["partial_unexpected_list"],
        r.get("unexpected_list"),
    )


def test_samples_identical_across_plans_and_match_python(spark):
    # the frame at every width and on the groupBy path
    df = keyed(spark, REPEATING)
    nonnull = [v for v in (py_key(i, REPEATING) for i in range(ROWS))
               if v is not None]
    counts = Counter(nonnull)
    dup_rows = sum(c for c in counts.values() if c > 1)
    want = sorted((v, c) for v, c in counts.items() if c > 1)[:20]
    base = df.where(F.col("k").isNotNull())
    for width in (None, 200, 4, 1):
        row = dup_groups_frame(base, ["k"], 20, width).first()
        assert row["__total"] == dup_rows, width
        assert [tuple(s) for s in row["__sample"]] == want, width

    # the EVRs of a validate on each path, at several session widths
    df = keyed(spark, NEAR_UNIQUE)
    nonnull = [v for v in (py_key(i, NEAR_UNIQUE) for i in range(ROWS))
               if v is not None]
    dup_rows = sum(c for c in Counter(nonnull).values() if c > 1)
    want_basic = (False, dup_rows, expected_list(nonnull, 20), None)
    want_complete = (
        False, dup_rows, expected_list(nonnull, 20),
        expected_list(nonnull, 50),
    )
    for setting in (200, 4, 1):
        with shuffle_partitions(spark, setting):
            basic = ges.compile_suite(unique_k(), df.schema, spark)
            complete = ges.compile_suite(
                unique_k(), df.schema, spark,
                result_format="COMPLETE", complete_cap=50,
            )
            for i in range(2):
                b, c = basic.validate(df), complete.validate(df)
                assert _evr_fields(b) == want_basic, (setting, i)
                assert _evr_fields(c) == want_complete, (setting, i)
            assert b.meta["decisions"][0]["shuffle_width"] == (
                IN_PARTS if setting > IN_PARTS else None
            )


def test_hot_key_and_compound_null_field(spark):
    # every non-null row holds one value: the partial count stays
    hot = spark.range(0, 5000, 1, 4).select(
        F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.lit(42))
        .alias("k")
    )
    nonnull = sum(1 for i in range(5000) if i % 7 != 0)
    compiled = ges.compile_suite(unique_k(), hot.schema, spark)
    for _ in range(2):
        res = compiled.validate(hot)
        assert _evr_fields(res) == (False, nonnull, [42] * 20, None)
    assert res.meta["decisions"][0]["dup_share"] == 1.0
    assert res.meta["decisions"][0]["map_side_partial_agg"] is True

    rows = (
        [(1, None)] * 3 + [(None, None)] * 5 + [(None, "a")] * 2
        + [(2, "b")] + [(2, "a")] * 2 + [(None, "b")]
    )
    df = spark.createDataFrame(rows, "a int, b string")
    suite = ges.suite("cu").expect(
        "expect_compound_columns_to_be_unique",
        column_list=["a", "b"],
        ignore_row_if="all_values_are_missing",
    )
    considered = [r for r in rows if r != (None, None)]
    # Spark orders struct fields NULL first
    want = [
        {"a": a, "b": b}
        for a, b in expected_list(
            considered, 50,
            sort_key=lambda r: tuple((v is not None, v) for v in r),
        )
    ]
    assert want[0] == {"a": None, "b": "a"}
    base = df.where(F.col("a").isNotNull() | F.col("b").isNotNull())
    for width in (None, 200, 1):
        row = dup_groups_frame(base, ["a", "b"], 50, width).first()
        got = [{"a": s["a"], "b": s["b"]} for s in row["__sample"]
               for _ in range(s["__cnt"])]
        assert (row["__total"], got) == (7, want), width
    res = ges.validate(df, suite, result_format="COMPLETE")
    assert _evr_fields(res) == (False, 7, want, want)
