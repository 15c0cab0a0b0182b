"""Splitters/samplers (reference surface parity), query expectations,
and audio/video payload plumbing."""

import datetime
import hashlib

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.operators import split_sample as ss


@pytest.fixture()
def dated_df(spark):
    rows = [
        (
            i,
            datetime.datetime(
                2023 + i % 2, 1 + (i // 2) % 12, 1 + i % 28, i % 24
            ),
        )
        for i in range(240)
    ]
    return spark.createDataFrame(rows, "id long, ts timestamp")


def test_date_part_splitters(dated_df):
    y = ss.split_on_year(dated_df, "ts", 2024)
    assert y.count() == 120
    ym = ss.split_on_year_and_month(dated_df, "ts", 2024, 2)
    assert ym.count() > 0
    assert ym.where(F.month("ts") != 2).count() == 0
    # parts are NOT truncated: month-only matches across years
    m = ss.split_on_date_parts(dated_df, "ts", {"month": 3})
    assert m.select(F.year("ts")).distinct().count() == 2
    with pytest.raises(ValueError, match="unsupported date part"):
        ss.split_on_date_parts(dated_df, "ts", {"quarter": 1})


def test_value_mod_divided_hash_splitters(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    assert ss.split_on_column_value(df, "k", 3).count() == df.where(
        "k = 3"
    ).count()
    assert (
        ss.split_on_mod_integer(df, "id", 10, 4).count() == 100
    )
    assert (
        ss.split_on_divided_integer(df, "id", 100, 5).count() == 100
    )
    assert (
        ss.split_on_multi_column_values(df, {"k": 2}).count()
        == df.where("k = 2").count()
    )
    # hashed splitter: JVM hash must equal hashlib's hex suffix
    sample = ss.split_on_hashed_column(df, "id", 1, "a", "sha256")
    got = {r["id"] for r in sample.collect()}
    expected = {
        i
        for i in range(1000)
        if hashlib.sha256(str(i).encode()).hexdigest()[-1] == "a"
    }
    assert got == expected


def test_samplers(spark):
    df = spark.range(1000)
    assert ss.sample_using_limit(df, 10).count() == 10
    n = ss.sample_using_random(df, p=0.2, seed=7).count()
    assert 100 < n < 300
    assert ss.sample_using_mod(df, "id", 5, 0).count() == 200
    assert ss.sample_using_a_list(df, "id", [1, 2, 999]).count() == 3
    h = ss.sample_using_hash(df, "id", 1, "f", "md5")
    expected = sum(
        1
        for i in range(1000)
        if hashlib.md5(str(i).encode()).hexdigest()[-1] == "f"
    )
    assert h.count() == expected


def test_query_expectations(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)], "id long, g string"
    )
    s = (
        ges.suite("q")
        .expect("expect_query_row_count_to_be_between",
                query="SELECT g, count(*) FROM {active_batch} GROUP BY g",
                min_value=2, max_value=2)
        .expect("expect_query_single_value_to_be_between",
                query="SELECT avg(id) FROM {active_batch}",
                min_value=49, max_value=50)
        .expect("expect_query_to_return_no_rows",
                query="SELECT * FROM {active_batch} WHERE id < 0")
        .expect("expect_query_to_return_no_rows",
                query="SELECT * FROM {active_batch} WHERE id >= 97")
    )
    res = ges.validate(df, s)
    assert [r.success for r in res.results] == [True, True, True, False]
    bad = res.results[3].result
    assert bad["observed_value"] == 3
    assert len(bad["details"]["unexpected_rows"]) == 3


def test_query_template_values(spark):
    """Generic QueryExpectation surface: {placeholder} tokens beyond
    {active_batch} come from template_dict, matching the reference's
    QueryTemplateValues._spark (query.format(**template_dict,
    active_batch=view))."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)], "id long, g string"
    )
    s = (
        ges.suite("qt")
        # per-group frequency must be 40..60% — the contrib
        # "column value frequency threshold" pattern as a template
        .expect(
            "expect_query_template_values_to_be_between",
            query="SELECT count(*) * 1.0 / (SELECT count(*) FROM "
                  "{active_batch}) FROM {active_batch} "
                  "GROUP BY {group_col}",
            template_dict={"group_col": "g"},
            min_value=0.4,
            max_value=0.6,
        )
        # same template, bounds that must fail for both groups
        .expect(
            "expect_query_template_values_to_be_between",
            query="SELECT count(*) FROM {active_batch} "
                  "WHERE {col} >= {threshold} GROUP BY {group_col}",
            template_dict={"col": "id", "threshold": 90,
                           "group_col": "g"},
            min_value=10,
            max_value=20,
        )
        # template_dict on the established query expectations too
        .expect(
            "expect_query_single_value_to_be_between",
            query="SELECT avg({col}) FROM {active_batch}",
            template_dict={"col": "id"},
            min_value=49,
            max_value=50,
        )
    )
    res = ges.validate(df, s)
    assert res.results[0].success
    assert not res.results[1].success  # counts are 5 per group
    assert res.results[1].result["details"]["unexpected_values"] == [5, 5]
    assert res.results[2].success

    # a template token missing from template_dict is a loud error
    s_bad = ges.suite("qbad").expect(
        "expect_query_template_values_to_be_between",
        query="SELECT {nope} FROM {active_batch}",
        min_value=0,
        max_value=1,
    )
    res_bad = ges.validate(df, s_bad, catch_exceptions=True)
    assert not res_bad.results[0].success
    assert "template references {nope}" in str(
        res_bad.results[0].exception_info
    )


def _media_df(spark, n=60):
    from great_expectations_spark.payload.media import (
        encode_audio,
        encode_video,
    )

    rows = []
    for i in range(n):
        audio = encode_audio(i, sr=8000, n_samples=800 + i)
        video = encode_video(i, n_frames=20 + i % 5)
        dur = (800 + i) / 8000.0
        frames = 20 + i % 5
        if i % 10 == 0:  # inject defects
            audio = audio[: len(audio) // 2]
        if i % 15 == 0:
            frames += 1
        rows.append((f"m{i:04d}", audio, video, dur, frames))
    return spark.createDataFrame(
        rows,
        "media_id string, audio binary, video binary, "
        "duration_s double, n_frames int",
    )


def test_media_checks(spark):
    df = _media_df(spark)
    s = (
        ges.suite("media")
        .expect("expect_audio_bytes_to_be_decodable", column="audio")
        .expect("expect_audio_duration_to_match_metadata", column="audio")
        .expect("expect_video_frame_count_to_match_metadata",
                column="video")
    )
    res = ges.validate(df, s, result_format="SUMMARY")
    r = {x.expectation_config.expectation_type: x.result for x in res.results}
    assert r["expect_audio_bytes_to_be_decodable"]["unexpected_count"] == 6
    # truncated audio also fails the duration match
    assert (
        r["expect_audio_duration_to_match_metadata"]["unexpected_count"]
        == 6
    )
    assert (
        r["expect_video_frame_count_to_match_metadata"]["unexpected_count"]
        == 4
    )


def test_frame_sampling(spark):
    from great_expectations_spark.payload.media import frame_sample

    df = _media_df(spark, n=20).select(
        "media_id", F.col("video").alias("bytes")
    )
    frames = frame_sample(df, every_nth=5)
    pdf = frames.toPandas()
    assert set(pdf.columns) == {"media_id", "frame_idx", "luma"}
    assert (pdf["frame_idx"] % 5 == 0).all()
    assert len(pdf) > 4 * 20  # ~4-5 sampled frames per clip


def test_real_decode_is_stubbed():
    from great_expectations_spark.payload.media import decode_real_media

    with pytest.raises(NotImplementedError):
        decode_real_media(b"x", "audio")


def test_image_features_vectorized_equivalence(spark):
    """The Arrow batch decode must be bit-identical to decode_image +
    phash_from_pixels per image: decode failures (short header, bad
    magic, truncated body, non-UTF-8 fmt, a 65535x65535 header), nulls,
    sides below 8 and not multiples of 8, one large image, and a slice
    with a non-zero offset."""
    import numpy as np
    import pyarrow as pa

    from great_expectations_spark.payload import image as im
    from great_expectations_spark.payload.codec import (
        HEADER,
        MAGIC,
        decode_image,
        encode_image,
        phash_from_pixels,
    )

    rng = np.random.default_rng(1)
    payloads = []
    for i in range(500):
        w = int(rng.choice([8, 16, 24, 32]))
        h = int(rng.choice([8, 16, 24, 32]))
        payloads.append(encode_image(seed=i, w=w, h=h, fmt="jpeg"))
    payloads += [None, b"FIMGbad", b"",
                 encode_image(seed=7, w=12, h=20, fmt="png")]
    good = encode_image(seed=3, w=16, h=16, fmt="webp")
    payloads += [
        good[: HEADER.size - 1],  # short header
        b"XIMG" + good[4:],  # bad magic
        good[:-1],  # truncated body
        HEADER.pack(MAGIC, b"\xff\xfe\0\0", 2, 2) + bytes(4),  # bad UTF-8
        HEADER.pack(MAGIC, b"jpeg", 65535, 65535) + bytes(64),
        encode_image(seed=11, w=512, h=384, fmt="png"),
    ]
    for side in range(1, 8):  # empty blocks: the hash is 0
        payloads.append(encode_image(seed=side, w=side, h=side, fmt="png"))
        payloads.append(encode_image(seed=side, w=side, h=20, fmt="gif"))
    for w, h in [(9, 13), (17, 8), (40, 33), (100, 7)]:
        payloads.append(encode_image(seed=w * h, w=w, h=h, fmt="webp"))

    def check(arr, want):
        out = im._image_features.func(arr)
        assert len(out) == len(want)
        fields = {k: out.field(k).to_pylist() for k in
                  ("ok", "w", "h", "fmt", "phash")}
        for i, b in enumerate(want):
            want_ok = want_ph = want_meta = None
            if b is not None:
                try:
                    fmt, w, h, px = decode_image(bytes(b))
                    want_ok, want_ph = True, phash_from_pixels(px)
                    want_meta = (w, h, fmt)
                except ValueError:
                    want_ok = False
            got_ok = fields["ok"][i]
            got_ph = fields["phash"][i]
            assert (got_ok is None and want_ok is None) or got_ok == want_ok
            assert (got_ph is None and want_ph is None) or int(
                got_ph
            ) == want_ph, i
            got_meta = (fields["w"][i], fields["h"][i], fields["fmt"][i])
            assert got_meta == (want_meta or (None, None, None)), i

    arr = pa.array(payloads, pa.binary())
    check(arr, payloads)
    # a non-zero offset into the offsets buffer and validity bitmap
    check(arr.slice(321), payloads[321:])
    check(pa.chunked_array([arr.slice(0, 7), arr.slice(7)]), payloads)


def test_query_template_reserved_keys_rejected(spark):
    """template_dict supplying {active_batch}/{batch} must raise a
    clear ValueError (they always bind to the validated batch view),
    not format()'s opaque 'multiple values for keyword' TypeError."""
    import pytest

    from great_expectations_spark.operators.query import _run_query

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="reserved"):
        _run_query(
            df,
            "SELECT * FROM {active_batch}",
            template_dict={"active_batch": "other_table"},
        )
    with pytest.raises(ValueError, match="reserved"):
        _run_query(
            df,
            "SELECT * FROM {batch}",
            template_dict={"batch": "other_table"},
        )
