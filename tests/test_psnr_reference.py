"""expect_image_pixels_to_match_reference: decoded-pixel PSNR >= 40dB
against a reference table — the target architecture's per-row
invariant (BASELINE.json input_hint)."""

from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.data.images import images_df
from great_expectations_spark.payload.codec import (
    decode_image,
    encode_image,
    psnr,
)


def test_psnr_math():
    a = decode_image(encode_image(1, 16, 16, "png"))[3]
    b = decode_image(encode_image(2, 16, 16, "png"))[3]
    assert psnr(a, a) == float("inf")
    assert psnr(a, b) < 40.0  # independent noise images
    assert psnr(a, b[:8, :]) == 0.0  # shape mismatch


def test_psnr_batch_matches_reference():
    """codec.psnr_batch (the check's Arrow UDF body) equals psnr over
    decode_image per row: null for a null side, 0.0 for an undecodable
    side or a shape mismatch, inf for identical pixels, NaN for two
    empty images; also on a slice with a non-zero offset."""
    import math

    import pyarrow as pa

    from great_expectations_spark.payload.codec import psnr_batch

    img = [encode_image(i, 8 + i % 3, 16, "png") for i in range(40)]
    a = img + [None, img[0], b"FIMGbad", img[1], encode_image(1, 0, 5, "png")]
    b = [encode_image(i + (i % 2), 8 + i % 3, 16, "png") for i in range(40)]
    b += [img[0], None, img[2], encode_image(1, 16, 8, "png"),
          encode_image(2, 0, 5, "png")]

    def want(x, y):
        if x is None or y is None:
            return None
        try:
            return psnr(decode_image(x)[3], decode_image(y)[3])
        except ValueError:
            return 0.0

    def same(g, e):
        return g == e or (isinstance(g, float) and math.isnan(g)
                          and math.isnan(e))

    pa_a, pa_b = pa.array(a, pa.binary()), pa.array(b, pa.binary())
    for lo in (0, 7):
        got = psnr_batch(pa_a.slice(lo), pa_b.slice(lo)).to_pylist()
        exp = [want(x, y) for x, y in zip(a[lo:], b[lo:])]
        assert all(same(g, e) for g, e in zip(got, exp)), (got, exp)
    # every outcome above is exercised
    assert None in exp and 0.0 in exp and math.inf in exp
    assert math.isnan(exp[-1]) and any(0 < e < 40 for e in exp[:40])


def test_pixels_match_reference(spark):
    raw = images_df(spark, n_rows=400, seed=42).where(
        # keep only healthy payloads: defect rows are other checks' job
        F.length("bytes") > 12
    )
    # drop duplicated ids: the dup-id defect rows carry different
    # pixels under the same id, so "matches its golden payload" is
    # genuinely false for them — that's the uniqueness check's domain
    singles = (
        raw.groupBy("image_id").count().where("count = 1").drop("count")
    )
    base = raw.join(singles, "image_id")
    ref = base.select("image_id", "bytes")

    s = ges.suite("psnr").expect(
        "expect_image_pixels_to_match_reference",
        column="bytes",
        reference_table_name="golden",
        min_psnr=40.0,
    )
    # identical payloads -> PSNR = inf everywhere -> success
    res = ges.SparkValidator(
        base, s, aux_tables={"golden": ref}, result_format="SUMMARY"
    ).validate()
    r = res.results[0]
    assert not r.exception_info["raised_exception"], r.exception_info
    assert r.success, r.result

    # corrupt the reference for 10% of ids (different generator seed
    # -> uncorrelated pixels -> PSNR << 40dB)
    corrupted = images_df(spark, n_rows=400, seed=999).select(
        "image_id", "bytes"
    )
    mixed = ref.where(~F.col("image_id").endswith("0")).unionAll(
        corrupted.where(F.col("image_id").endswith("0"))
    )
    res2 = ges.SparkValidator(
        base, s, aux_tables={"golden": mixed}, result_format="SUMMARY"
    ).validate()
    r2 = res2.results[0]
    assert not r2.success
    assert r2.result["unexpected_count"] > 0
    assert all(
        str(v).endswith("0")
        for v in r2.result["partial_unexpected_list"]
    )


def test_missing_reference_table(spark):
    base = images_df(spark, n_rows=50, seed=1)
    s = ges.suite("psnr").expect(
        "expect_image_pixels_to_match_reference",
        column="bytes",
        reference_table_name="nope",
    )
    r = ges.validate(base, s).results[0]
    assert r.exception_info["raised_exception"]
    assert "not provided" in r.exception_info["exception_message"]
