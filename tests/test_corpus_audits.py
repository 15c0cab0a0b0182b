"""Corpus-audit semantics on planted corpora plus third-implementation
checks (pure-Python recomputation, independent of both Spark and the
DuckDB oracle) for the phash-derived audits on real test data."""

import hashlib
import math

import pytest

from great_expectations_spark import suite_queries as sq

SF = "/root/testdata/sf0.001"


# --- pure-Python twin of _phash_parts_sql ------------------------------------


def _phash_py(doc_id: int) -> int:
    grp = -1 if doc_id % 10 < 3 else doc_id % 211
    ws = []
    for i in range(4):
        h = hashlib.md5(f"ph{grp}:{i}".encode()).hexdigest()
        w = int(h[:4], 16)
        if i == 0:
            w %= 32768
        ws.append(w)
    if doc_id % 2 == 1:
        ws[3] ^= 2 ** (doc_id % 16)
    return (
        ws[0] * 281474976710656
        + ws[1] * 4294967296
        + ws[2] * 65536
        + ws[3]
    )


def _split_key_py(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 5


def _read_docs():
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, source FROM '{SF}/documents.parquet'"
    ).fetchall()


# --- segment_dedup_stats ------------------------------------------------------


@pytest.fixture()
def seg_dir(spark, tmp_path):
    shared = "a b c d e f g h"  # one exact 8-token segment
    loop8 = "x1 x2 x3 x4 x5 x6 x7 x8"
    rows = [
        # srcA: shared segment + 8 unique tokens -> 2 segments, 1 dup
        (1, shared + " u1 u2 u3 u4 u5 u6 u7 u8", "en", "srcA", 50),
        # srcB doc 2: exactly the shared segment -> 1 segment, dup,
        # majority-duplicated (docs_over_half)
        (2, shared, "en", "srcB", 15),
        # srcB doc 3: same 8-token block twice WITHIN the doc only ->
        # 2 segments, 0 dups (within-doc repetition is excluded)
        (3, loop8 + " " + loop8, "en", "srcB", 40),
        # srcC: under 8 tokens -> no segments, still counted in docs
        (4, "p q r s t", "en", "srcC", 9),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sfseg")
    df.coalesce(2).write.mode("overwrite").parquet(
        d + "/documents.parquet"
    )
    return d


def test_segment_dedup_planted(spark, seg_dir):
    out = {
        r.source: r
        for r in sq.segment_dedup_stats(spark, seg_dir).collect()
    }
    a, b, c = out["srcA"], out["srcB"], out["srcC"]
    assert (a.docs, a.docs_with_segments, a.segments) == (1, 1, 2)
    assert a.dup_segments == 1 and a.dup_rate == 0.5
    assert a.docs_over_half == 0  # 1*2 > 2 is false
    assert (b.docs, b.docs_with_segments, b.segments) == (2, 2, 3)
    # doc 2's lone segment is cross-doc duplicated; doc 3's two
    # identical segments live in one doc only -> not duplicated
    assert b.dup_segments == 1
    assert b.dup_rate == math.floor(1 * 10000 / 3) / 10000
    assert b.docs_over_half == 1  # doc 2: all segments duplicated
    assert (c.docs, c.docs_with_segments, c.segments) == (1, 0, 0)
    assert c.dup_segments == 0 and c.dup_rate == 0.0


# --- source_token_divergence ---------------------------------------------------


@pytest.fixture()
def jsd_dir(spark, tmp_path):
    rows = [
        # srcX and srcY have IDENTICAL token distributions
        (1, "w1 w2 w3 w1", "en", "srcX", 11),
        (2, "w1 w2 w3 w1", "en", "srcY", 11),
        # srcZ is a different register entirely
        (3, "zz zz zz zz", "en", "srcZ", 11),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sfjsd")
    df.coalesce(1).write.mode("overwrite").parquet(
        d + "/documents.parquet"
    )
    return d


def _jsd_py(counts: dict, glob: dict) -> float:
    st, gt = sum(counts.values()), sum(glob.values())
    acc = 0.0
    for tok, g in glob.items():
        c = counts.get(tok)
        q = g / gt
        p = (c or 0) / st
        m = (p + q) / 2
        if c is not None:
            acc += 0.5 * p * math.log(p / m)
        acc += 0.5 * q * math.log(q / m)
    return round(acc, 6)


def test_source_token_divergence_planted(spark, jsd_dir):
    out = {
        r.source: r
        for r in sq.source_token_divergence(spark, jsd_dir).collect()
    }
    glob = {"w1": 4, "w2": 2, "w3": 2, "zz": 4}
    xy = {"w1": 2, "w2": 1, "w3": 1}
    assert out["srcX"].jsd == out["srcY"].jsd == _jsd_py(xy, glob)
    assert out["srcZ"].jsd == _jsd_py({"zz": 4}, glob)
    # identical-to-each-other sources still diverge from the MIX;
    # the single-token source diverges more, and JSD <= ln 2
    assert 0.0 < out["srcX"].jsd < out["srcZ"].jsd <= math.log(2) + 1e-9
    assert out["srcX"].vocab == out["srcZ"].vocab == 4
    assert out["srcX"].src_vocab == 3 and out["srcZ"].src_vocab == 1
    assert out["srcX"].tokens == 4


# --- phash_split_leakage (third implementation on real data) ------------------


def test_phash_split_leakage_matches_python(spark):
    docs = _read_docs()
    train = {
        _phash_py(i) for i, _ in docs if _split_key_py(i) != 0
    }
    exp = {}
    for i, src in docs:
        if _split_key_py(i) != 0:
            continue
        e = exp.setdefault(src, [0, 0, set()])
        e[0] += 1
        ph = _phash_py(i)
        if ph in train:
            e[1] += 1
            e[2].add(ph)
    out = {
        r.source: r
        for r in sq.phash_split_leakage(spark, SF).collect()
    }
    assert set(out) == set(exp)
    for src, (n, leaked, phs) in exp.items():
        r = out[src]
        assert (r.eval_images, r.leaked_images, r.leaked_phashes) == (
            n,
            leaked,
            len(phs),
        ), src
        assert r.leak_rate == math.floor(leaked * 10000 / n) / 10000
    # the 80/20 split actually splits: both sides non-trivial
    total_eval = sum(e[0] for e in exp.values())
    assert 0 < total_eval < len(docs)


# --- phash_bit_balance (third implementation on real data) --------------------


def test_phash_bit_balance_matches_python(spark):
    docs = _read_docs()
    n = len(docs)
    ones = [0] * 63
    for i, _ in docs:
        ph = _phash_py(i)
        for b in range(63):
            ones[b] += (ph >> b) & 1
    out = {r.bit: r for r in sq.phash_bit_balance(spark, SF).collect()}
    assert set(out) == set(range(63))
    for b in range(63):
        r = out[b]
        assert (r.ones, r.n_images) == (ones[b], n), b
        rate = math.floor(ones[b] * 1000000 / n) / 1000000
        assert r.rate == rate
        assert r.degenerate == int(rate < 0.35 or rate > 0.65)
    # packed phash is 63 bits; the audit must cover every one exactly once
    assert len(out) == 63


# --- declarative faces ---------------------------------------------------------


def test_duplicate_segment_rate_expectation(spark):
    """Planted corpus: rows 1+2 share one exact 8-token segment (both
    instances count), row 3 repeats a segment within itself only (not
    corpus duplication), row 4 is too short for any segment. 2 of 5
    segment instances duplicated -> rate 0.4; bounds flip success."""
    import great_expectations_spark as ges

    shared = "a b c d e f g h"
    loop8 = "x1 x2 x3 x4 x5 x6 x7 x8"
    df = spark.createDataFrame(
        [
            (shared + " u1 u2 u3 u4 u5 u6 u7 u8",),
            (shared,),
            (loop8 + " " + loop8,),
            ("p q r",),
            (None,),
        ],
        "text string",
    )
    ok = ges.validate(
        df,
        ges.suite("seg").expect(
            "expect_column_duplicate_segment_rate_to_be_between",
            column="text", max_value=0.4,
        ),
    ).results[0]
    assert ok.success
    assert abs(ok.result["observed_value"] - 0.4) < 1e-9
    assert ok.result["element_count"] == 5
    assert ok.result["details"]["duplicate_segments"] == 2

    bad = ges.validate(
        df,
        ges.suite("seg").expect(
            "expect_column_duplicate_segment_rate_to_be_between",
            column="text", max_value=0.3,
        ),
    ).results[0]
    assert not bad.success


def test_duplicate_segment_rate_custom_segment_tokens(spark):
    """segment_tokens=2: 'a b' occurs in two rows -> both instances
    duplicated; the second row's trailing odd token is no segment."""
    import great_expectations_spark as ges

    df = spark.createDataFrame(
        [("a b c d",), ("a b e",)], "text string"
    )
    r = ges.validate(
        df,
        ges.suite("seg2").expect(
            "expect_column_duplicate_segment_rate_to_be_between",
            column="text", segment_tokens=2, max_value=1.0,
        ),
    ).results[0]
    # segments: (a b), (c d) from row 1; (a b) from row 2 -> 2/3 dup
    assert r.result["element_count"] == 3
    assert r.result["details"]["duplicate_segments"] == 2
    assert abs(r.result["observed_value"] - 2 / 3) < 1e-9


def test_split_leakage_rate_expectation(spark):
    """Keys 1,3 leak from eval into train; key 5 is eval-only; null
    keys are ignored on both sides. leaked 2 of 3 eval rows."""
    import great_expectations_spark as ges

    rows = [
        # (key, part)   train: part <> 'eval'
        (1, "train"), (2, "train"), (3, "train"), (None, "train"),
        (1, "eval"), (3, "eval"), (5, "eval"), (None, "eval"),
    ]
    df = spark.createDataFrame(rows, "k long, part string")
    ok = ges.validate(
        df,
        ges.suite("leak").expect(
            "expect_column_split_leakage_rate_to_be_between",
            column="k", eval_condition="part = 'eval'",
            max_value=2 / 3,
        ),
    ).results[0]
    assert ok.success
    assert abs(ok.result["observed_value"] - 2 / 3) < 1e-9
    assert ok.result["element_count"] == 3
    assert ok.result["details"]["leaked_rows"] == 2
    assert ok.result["details"]["leaked_keys"] == 2

    bad = ges.validate(
        df,
        ges.suite("leak").expect(
            "expect_column_split_leakage_rate_to_be_between",
            column="k", eval_condition="part = 'eval'",
            max_value=0.5,
        ),
    ).results[0]
    assert not bad.success


@pytest.fixture(scope="module")
def fuzz_dir(spark, tmp_path_factory):
    """The differential fuzz gate's seed-11 corpora (documents and
    embeddings), so its adversarial shapes reach each expectation's
    own rate arithmetic."""
    from test_oracle_fuzz import _gen_corpus, _gen_embeddings

    d = str(tmp_path_factory.mktemp("fuzz11"))
    spark.createDataFrame(
        _gen_corpus(11),
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(3).write.mode("overwrite").parquet(d + "/documents.parquet")
    spark.createDataFrame(
        _gen_embeddings(11), "vec_id long, embedding array<float>, label int"
    ).coalesce(3).write.mode("overwrite").parquet(d + "/embeddings.parquet")
    return d


def _leakage_agrees(spark, sf_dir, docs):
    from pyspark.sql import functions as F

    _, packed = sq._phash_parts_sql("spark")
    sk = sq._hexval_sql("CAST(doc_id AS STRING)", "spark")
    frame = docs.select(
        F.expr(packed).alias("phash"),
        (F.expr(sk) % 5 == 0).alias("is_eval"),
    )
    exp = dict(
        column="phash", eval_condition="is_eval", max_value=1.0
    )
    audit = sq.phash_split_leakage(spark, sf_dir).collect()
    ev = sum(x.eval_images for x in audit)
    leaked = sum(x.leaked_images for x in audit)

    def check(r):
        assert r.result["element_count"] == ev
        assert r.result["details"]["leaked_rows"] == leaked
        assert abs(r.result["observed_value"] - leaked / ev) < 1e-9

    return "expect_column_split_leakage_rate_to_be_between", frame, exp, check


def _phash_agrees(spark, sf_dir, docs):
    from pyspark.sql import functions as F

    _, packed = sq._phash_parts_sql("spark")
    # sorted, so the expectation's monotonic row ids rank rows as
    # doc_id does and a capped bucket picks the same hub
    frame = docs.orderBy("doc_id").select(F.expr(packed).alias("phash"))
    exp = dict(column="phash", max_value=1.0)
    pairs = sq.phash_hamming_neardup(spark, sf_dir).collect()
    involved = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    n = docs.count()

    def check(r):
        assert r.result["element_count"] == n
        assert r.result["details"]["near_duplicate_rows"] == len(involved)
        assert r.result["details"]["max_hamming"] == sq._PHASH_HAMMING_MAX

    return (
        "expect_column_phash_near_duplicate_rate_to_be_between",
        frame, exp, check,
    )


def _segment_agrees(spark, sf_dir, docs):
    exp = dict(column="text", max_value=1.0)
    audit = sq.segment_dedup_stats(spark, sf_dir).collect()
    segs = sum(x.segments for x in audit)
    dups = sum(x.dup_segments for x in audit)

    def check(r):
        assert r.result["element_count"] == segs
        assert r.result["details"]["duplicate_segments"] == dups
        assert r.result["details"]["segment_tokens"] == sq._SEG_LEN

    return (
        "expect_column_duplicate_segment_rate_to_be_between",
        docs.select("text"), exp, check,
    )


def _gate_agrees(spark, sf_dir, docs):
    from pyspark.sql import functions as F

    w, h, fmt = sq._image_meta_sql()
    frame = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(w).alias("w"),
        F.expr(h).alias("h"),
        F.expr(fmt).alias("fmt"),
        F.expr("repeat('x', CAST(n_chars AS INT))").alias("caption"),
    )
    exp = dict(mostly=0.0)
    audit = sq.image_quality_gate(spark, sf_dir).collect()
    n = sum(x.docs for x in audit)
    dropped = sum(x.docs - x.kept for x in audit)

    def check(r):
        assert r.result["element_count"] == n
        assert r.result["unexpected_count"] == dropped

    return "expect_image_metadata_to_pass_quality_gate", frame, exp, check


def _ann_agrees(method, row):
    """expect_ann_recall_to_be_greater_than(method=...) against the
    ann_recall query's `row`: same queries (the 10 smallest ids are
    vec_id < 10 on both corpora), same counts, same recall."""

    def family(spark, sf_dir, docs):
        frame = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exp = dict(
            min_recall=0.0, method=method, k=3, n_queries=10,
            kmeans_k=sq._KMEANS_K, kmeans_iters=sq._KMEANS_ITERS,
        )
        audit = {
            r.method: r for r in sq.ann_recall(spark, sf_dir).collect()
        }[row]

        def check(r):
            d = r.result["details"]
            assert (d["returned"], d["hits"], d["exact_neighbors"]) == (
                audit.returned, audit.hits, audit.exact_neighbors,
            )
            assert r.result["observed_value"] == audit.recall

        return "expect_ann_recall_to_be_greater_than", frame, exp, check

    return family


def _assert_agrees(spark, family, sf_dir):
    import great_expectations_spark as ges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    etype, frame, kwargs, check = family(spark, sf_dir, docs)
    r = ges.validate(frame, ges.suite("agree").expect(etype, **kwargs))
    check(r.results[0])


def test_split_leakage_matches_audit_query(spark):
    """The declarative face and the phash_split_leakage audit agree on
    real data: overall leaked/eval from the expectation equals the
    audit's per-source rows summed."""
    _assert_agrees(spark, _leakage_agrees, SF)


_FAMILIES = {
    "leakage": _leakage_agrees,
    "phash": _phash_agrees,
    "segment": _segment_agrees,
    "gate": _gate_agrees,
    "ann_bucket": _ann_agrees("bucket", "ivf"),
    "ann_kmeans": _ann_agrees("kmeans", "kmeans"),
}


@pytest.mark.parametrize(
    "family,corpus",
    [
        pytest.param(f, c, id=f"{name}-{c}")
        for name, f in _FAMILIES.items()
        for c in ("sf0.001", "fuzz11")
        # leakage on sf0.001 is test_split_leakage_matches_audit_query
        if (name, c) != ("leakage", "sf0.001")
    ],
)
def test_expectation_matches_audit_query(spark, fuzz_dir, family, corpus):
    """Each declarative face and its oracle-gated audit query agree
    on the same documents: the expectation's totals equal the query's
    rows summed (leakage, segment, gate), its distinct pair ids
    (phash) or its row for the same ANN method (ann_*)."""
    _assert_agrees(spark, family, SF if corpus == "sf0.001" else fuzz_dir)


# --- lsh_containment_pairs ------------------------------------------------------


def test_containment_catches_jaccard_missed_quote(spark, tmp_path):
    """A 12-token doc quoted verbatim at the head of a 42-token doc:
    containment 1.0 but Jaccard 0.25 — below the dedup threshold, so
    lsh_verified_pairs keeps both copies while lsh_containment_pairs
    flags the pair as jaccard_missed. The suffix seed (s1_*) was
    chosen so the pair shares an LSH band (minhash collision
    probability tracks Jaccard, so a contained-but-dissimilar pair is
    only PROBABLY a candidate; this corpus is a verified collision)."""
    quote = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    suffix = " ".join(f"s1_{k}" for k in range(30))
    df = spark.createDataFrame(
        [
            (1, quote, "en", "srcQ", len(quote)),
            (2, quote + " " + suffix, "en", "srcL", 0),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = str(tmp_path / "sfq")
    df.coalesce(1).write.mode("overwrite").parquet(
        d + "/documents.parquet"
    )
    got = sq.lsh_containment_pairs(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment == 1.0
    assert r.jaccard == 0.25
    assert r.jaccard_missed == 1
    # the Jaccard-threshold verifier misses exactly this pair
    assert sq.lsh_verified_pairs(spark, d).collect() == []


def test_containment_real_corpus_consistency(spark):
    """On real data: containment >= jaccard always; every verified
    Jaccard edge with containment >= tau appears here too."""
    cont = {
        (r.doc_a, r.doc_b): r
        for r in sq.lsh_containment_pairs(spark, SF).collect()
    }
    for r in cont.values():
        assert r.containment >= r.jaccard
        assert r.containment >= 0.8
    ver = {
        (r.doc_a, r.doc_b)
        for r in sq.lsh_verified_pairs(spark, SF).collect()
    }
    # jaccard_missed pairs are exactly the containment pairs absent
    # from the Jaccard-verified edge set
    for key, r in cont.items():
        assert (key not in ver) == bool(r.jaccard_missed)
