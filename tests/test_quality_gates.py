"""Semantics of the model-based quality filter, the image metadata
gate, tokenizer fertility, and the dedup cluster-size histogram on
planted corpora with hand-computable answers."""

import math

import pytest

from great_expectations_spark import suite_queries as sq
from great_expectations_spark.suite_queries import image_gate_flags


@pytest.fixture()
def lm_dir(spark, tmp_path):
    # 100 docs of pure common tokens so "alpha beta" dominate the
    # corpus LM, plus one doc made of singleton tokens (their price
    # -ln(1/604) = 6.40 crosses the 6.0 low-quality threshold).
    rows = [
        (i, "alpha beta alpha beta alpha beta", "en", "srcA", 33)
        for i in range(100)
    ]
    rows.append((100, "zzq1 zzq2 zzq3 zzq4", "en", "srcB", 19))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sflm")
    df.coalesce(2).write.mode("overwrite").parquet(d + "/documents.parquet")
    return d


def test_unigram_lm_scores_and_oov(spark, lm_dir):
    rows = {
        r.doc_id: r
        for r in sq.unigram_logprob_quality(spark, lm_dir).collect()
    }
    # vocab (top-20 of 6 types) holds every type; only rare types are
    # near-OOV-priced, so check exact math instead of flags alone.
    total = 100 * 6 + 4  # 604 tokens
    common = rows[0]
    assert common.oov_tokens == 0
    expect_common = -math.log(300 / total)
    assert abs(common.mean_nll - expect_common) < 1e-3
    rare = rows[100]
    # singleton tokens are IN vocab (vocab cap 20 > 6 types): p=1/total
    assert rare.oov_tokens == 0
    assert abs(rare.mean_nll - (-math.log(1 / total))) < 1e-3
    assert rare.mean_nll > common.mean_nll
    assert rare.low_quality == 1 and common.low_quality == 0


def test_unigram_lm_oov_floor(spark, tmp_path):
    # 25 distinct heavy types fill the top-20 vocab; 5 lighter types
    # fall out and must be priced at the OOV floor, not dropped.
    rows = []
    did = 0
    for k in range(25):
        for _ in range(3):
            rows.append((did, f"tok{k:02d} tok{k:02d}", "en", "s", 11))
            did += 1
    rows.append((900, "zz1 zz2 zz3 zz4", "en", "s", 15))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sfoov")
    df.coalesce(2).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {
        r.doc_id: r
        for r in sq.unigram_logprob_quality(spark, d).collect()
    }
    total = 25 * 3 * 2 + 4
    # singleton zz* tokens are out of the top-20 vocab: OOV-priced
    oov_doc = out[900]
    assert oov_doc.oov_tokens == 4
    assert abs(oov_doc.mean_nll - (-math.log(0.5 / total))) < 1e-3
    # ties at cnt=6 break by token asc: tok20..tok24 fall out too,
    # so a corpus doc of tok20 is priced at the same OOV floor
    tok20_doc = out[60]
    assert tok20_doc.oov_tokens == 2
    assert tok20_doc.mean_nll == oov_doc.mean_nll
    in_vocab = out[0]
    assert in_vocab.oov_tokens == 0
    assert in_vocab.mean_nll < oov_doc.mean_nll


def test_image_gate_flags_each_rule(spark):
    rows = [
        # (id, w, h, fmt, caption)           -> expected failing gate
        ("ok", 32, 32, "jpeg", "x" * 200),  # clean
        ("small", 8, 32, "jpeg", "x" * 200),  # min side
        ("wide", 64, 16, "png", "x" * 200),  # aspect 4.0
        ("fmt", 32, 32, "gif", "x" * 200),  # format
        ("cap", 32, 32, "webp", "x" * 10),  # caption too short
        ("nullcap", 32, 32, "webp", None),  # null caption == empty
        ("nullw", None, 20, "png", "x" * 150),  # null side fails
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, caption string"
    )
    out = {r.image_id: r for r in image_gate_flags(df).collect()}
    assert out["ok"].keep and not any(
        [out["ok"].f_min_side, out["ok"].f_aspect,
         out["ok"].f_fmt, out["ok"].f_caption]
    )
    assert out["small"].f_min_side and not out["small"].keep
    assert out["wide"].f_aspect and not out["wide"].f_min_side
    assert out["fmt"].f_fmt and not out["fmt"].keep
    assert out["cap"].f_caption and not out["cap"].keep
    assert out["nullcap"].f_caption
    assert out["nullw"].f_min_side and out["nullw"].f_aspect
    assert not out["nullw"].keep


def test_image_gate_query_accounts_every_doc(spark, tmp_path):
    rows = [
        (i, "w " * 10, "en", f"src{i % 2}", 40 + i) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sfimg")
    df.coalesce(2).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = sq.image_quality_gate(spark, d).collect()
    assert sum(r.docs for r in out) == 60
    for r in out:
        # kept + at-least-one-failure partition the docs (rule counts
        # are non-exclusive so their sum can exceed docs - kept)
        assert r.kept <= r.docs
        assert (
            r.dropped_min_side + r.dropped_aspect + r.dropped_fmt
            + r.dropped_caption
            >= r.docs - r.kept
        )


def test_token_fertility_matches_pandas(spark, lm_dir):
    import pandas as pd

    pdf = pd.read_parquet(lm_dir + "/documents.parquet")
    pdf["ntok"] = pdf["text"].str.split(" ").str.len()
    out = {r.lang: r for r in
           sq.token_fertility_by_lang(spark, lm_dir).collect()}
    g = pdf.groupby("lang")
    for lang, grp in g:
        r = out[lang]
        assert r.docs == len(grp)
        assert r.ws_tokens == grp["ntok"].sum()
        assert r.chars == grp["n_chars"].sum()
        assert r.chars_per_token == round(
            float(grp["n_chars"].sum()) / grp["ntok"].sum(), 4
        )


def test_cluster_size_histogram_consistent(spark):
    sf = "/root/testdata/sf0.001"
    hist = sq.dedup_cluster_sizes(spark, sf).collect()
    keep = sq.dedup_clusters(spark, sf).collect()
    assert sum(r.docs for r in hist) == len(keep)
    for r in hist:
        # every cluster of size s contributes exactly s docs
        assert r.docs == r.n_clusters * r.cluster_size
    # keepers in the keep table match the histogram's cluster count
    assert sum(r.n_clusters for r in hist) == sum(
        1 for r in keep if r.keep
    )


def test_metadata_gate_expectation_strategies_agree(spark):
    import great_expectations_spark as ges

    rows = [
        ("ok1", 32, 32, "jpeg", "x" * 200),
        ("ok2", 24, 48, "png", "y" * 150),
        ("small", 8, 32, "jpeg", "x" * 200),   # min side
        ("wide", 64, 16, "png", "x" * 200),    # aspect 4.0
        ("fmt", 32, 32, "gif", "x" * 200),     # format
        ("cap", 32, 32, "webp", "x" * 10),     # caption too short
        ("nullfmt", 32, 32, None, "x" * 200),  # null metadata fails
        ("nullw", None, 20, "png", "y" * 150),  # null side fails
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, caption string"
    )
    s = ges.suite("gate").expect(
        "expect_image_metadata_to_pass_quality_gate", mostly=0.5
    )

    def view(res):
        r = res.results[0]
        return r.success, r.result["element_count"], r.result["unexpected_count"]

    oneshot = ges.SparkValidator(df, s, result_format="SUMMARY").validate()
    compiled = ges.compile_suite(
        s, df.schema, spark, result_format="SUMMARY"
    ).validate(df)
    # 6 of 8 fail the gate; mostly=0.5 -> unexpected 75% -> failure
    assert view(oneshot) == view(compiled) == (False, 8, 6)


def test_metadata_gate_suite_never_reads_bytes(spark):
    import io
    import contextlib

    import great_expectations_spark as ges
    from great_expectations_spark.data.images import images_df
    from great_expectations_spark.operators.registry import get_compiler
    from great_expectations_spark.plans.planner import (
        collect_agg_exprs,
        split_checks,
    )

    df = images_df(spark, n_rows=200, seed=3)
    s = ges.suite("gate").expect(
        "expect_image_metadata_to_pass_quality_gate"
    )
    compiled = [
        get_compiler(cfg.expectation_type)(i, cfg, df.schema)
        for i, cfg in enumerate(s.expectations)
    ]
    _, map_checks, agg_checks, job_checks = split_checks(compiled)
    exprs = collect_agg_exprs(map_checks, agg_checks, job_checks)
    agg_df = df.agg(
        *[e.alias(k.replace(":", "_").replace(".", "_"))
          for k, e in exprs.items()]
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        agg_df.explain("formatted")
    txt = buf.getvalue()
    assert "bytes" not in txt.split("ReadSchema:")[-1].splitlines()[0]
