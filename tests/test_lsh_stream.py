"""Streaming LSH near-dup candidates (applyInPandasWithState): band
values match the batch signature pipeline bit-for-bit, candidate
pairs connect the same components as the batch operator, state
carries across micro-batches, hot buckets stay O(n) star pairs, and
idle buckets are evicted (late duplicate -> no pair)."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from great_expectations_spark import suite_queries as sq
from great_expectations_spark.streaming.lsh_stream import (
    _band_rows,
    _interval_ms,
    lsh_candidates_stream,
)

BASE = datetime(2026, 1, 1, 12, 0, 0)
SCHEMA = "doc_id long, text string, ts timestamp"


def _run_stream(spark, tmp_path, cap=64, watermark="30 minutes",
                horizon="1 hour"):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "src"))
    out = str(tmp_path / "out")
    q = (
        lsh_candidates_stream(
            stream, watermark=watermark, bucket_cap=cap,
            idle_horizon=horizon,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.schema(
        "doc_a long, doc_b long, band_idx int, bv string"
    ).parquet(out)


def test_interval_ms():
    assert _interval_ms("1 hour") == 3_600_000
    assert _interval_ms("30 minutes") == 1_800_000
    assert _interval_ms("90 seconds") == 90_000


def test_stream_bands_match_batch_signatures(spark, tmp_path):
    docs = [
        (i, f"some shared words plus unique token u{i} tail", None)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        [(d, t, BASE) for d, t, _ in docs], SCHEMA
    )
    sfdir = str(tmp_path / "sfb")
    df.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"),
        F.length("text").alias("n_chars"),
    ).write.parquet(sfdir + "/documents.parquet")

    batch = {
        (r.doc_id, b): getattr(r, f"band{b}")
        for r in sq.dedup_minhash_signatures(spark, sfdir).collect()
        for b in range(sq._BANDS)
    }
    stream_vals = {
        (r.doc_id, r.band_idx): r.bv
        for r in _band_rows(df, "doc_id").collect()
    }
    assert stream_vals == batch


def test_stream_pairs_match_batch_operator(spark, tmp_path):
    """Near-dup groups + singletons split across two micro-batches:
    the DISTINCT stream pairs must equal the batch operator
    (dedup_minhash_pairs) on the same corpus — including any genuine
    LSH band collisions, and including pairs whose members arrived in
    different batches (cross-batch state). Planted group pairs must
    be present."""
    def doc(i, group=None):
        if group is not None:
            return (i, f"group {group} body of repeated text padded "
                       f"with more group {group} words", None)
        return (i, f"solo document {i} with its own vocabulary "
                   f"item{i} item{i+1} item{i+2}", None)

    batch1 = [doc(1, "A"), doc(2, "A"), doc(10, "B"), doc(30)]
    batch2 = [doc(3, "A"), doc(11, "B"), doc(31)]
    src = tmp_path / "src"
    all_rows = []
    for k, rows in enumerate((batch1, batch2)):
        all_rows += rows
        spark.createDataFrame(
            [(d, t, BASE + timedelta(minutes=k)) for d, t, _ in rows],
            SCHEMA,
        ).coalesce(1).write.mode("append").parquet(str(src))

    got = {
        (r.doc_a, r.doc_b)
        for r in _run_stream(spark, tmp_path).collect()
    }

    sfdir = str(tmp_path / "sfbatch")
    spark.createDataFrame(
        [(d, t, BASE) for d, t, _ in all_rows], SCHEMA
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"), F.length("text").alias("n_chars"),
    ).write.parquet(sfdir + "/documents.parquet")
    want = {
        (r.doc_a, r.doc_b)
        for r in sq.dedup_minhash_pairs(spark, sfdir).collect()
    }
    assert got == want
    # planted groups present, incl. the cross-batch pairs (1,3), (10,11)
    assert {(1, 2), (1, 3), (2, 3), (10, 11)} <= got


def test_hot_bucket_stays_star_bounded(spark, tmp_path):
    """With cap=3, a 10-doc identical-text bucket must emit the 3
    exact pairs among the first 3 members plus one star pair per
    later arrival — never C(10,2)."""
    rows = [
        (i, "identical boilerplate text body repeated everywhere", None)
        for i in range(10)
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        [(d, t, BASE) for d, t, _ in rows], SCHEMA
    ).coalesce(1).write.parquet(str(src))

    pairs = {
        (r.doc_a, r.doc_b)
        for r in _run_stream(spark, tmp_path, cap=3).collect()
    }
    exact = {(0, 1), (0, 2), (1, 2)}
    stars = {(0, m) for m in range(3, 10)}
    assert pairs == exact | stars
    # every doc reachable from the hub: components preserved
    assert len(pairs) == 10


def test_idle_bucket_evicted(spark, tmp_path):
    """A duplicate arriving after its bucket aged past
    watermark+horizon yields NO pair (bounded-state recall tradeoff),
    while a fresh in-horizon duplicate still pairs."""
    text = "evictable document body with several stable words here"
    src = tmp_path / "src"
    # batch 1: original
    spark.createDataFrame(
        [(1, text, BASE)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))
    # batch 2: unrelated late doc advances the watermark far past
    # batch 1's bucket timeout (watermark 1 min + horizon 2 min)
    spark.createDataFrame(
        [(50, "totally unrelated filler words advancing the clock "
              "onward relentlessly", BASE + timedelta(hours=6))],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(src))
    # batch 3: nothing for the old bucket -> timeout fires, evicted
    spark.createDataFrame(
        [(51, "another unrelated document keeping the stream moving "
              "along nicely", BASE + timedelta(hours=6, minutes=1))],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(src))
    # batch 4: the duplicate, after eviction
    spark.createDataFrame(
        [(2, text, BASE + timedelta(hours=6, minutes=2))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    got = _run_stream(
        spark, tmp_path, watermark="1 minute", horizon="2 minutes"
    )
    assert {(r.doc_a, r.doc_b) for r in got.collect()} == set()
