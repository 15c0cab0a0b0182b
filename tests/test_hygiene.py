"""Corpus hygiene gates: C4-style quality filter, PII scan/expectation,
and Misra-Gries heavy hitters.

The oracle harness covers Spark-vs-DuckDB parity on the synthetic
tables (which are digit-free, so PII hits there are legitimately
zero); these tests pin the semantics on crafted corpora with known
plants — detection strength lives here.
"""

import collections

import pandas as pd
import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark import suite_queries as sq
from great_expectations_spark.functions.pii import PII_PATTERNS

SF = "/root/testdata/sf0.001"


def _write_documents(spark, tmp_path, rows, partitions=4):
    """Materialize a crafted documents.parquet so the corpus queries
    (which read `{sf_dir}/documents.parquet`) run on it unchanged."""
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).repartition(partitions)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


# --- c4_quality_filter -------------------------------------------------------


def test_c4_filter_matches_pandas_recomputation(spark):
    got = {
        r["source"]: r.asDict()
        for r in sq.c4_quality_filter(spark, SF).collect()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    stopset = {"the", "a", "of", "to", "and"}
    exp = collections.defaultdict(
        lambda: dict.fromkeys(
            ["docs", "kept", "dropped_min_words", "dropped_stopword",
             "dropped_top_share", "dropped_mean_len"], 0
        )
    )
    for _, row in docs.iterrows():
        words = row["text"].split(" ")
        n = len(words)
        stop = sum(w in stopset for w in words) / n
        top = max(collections.Counter(words).values()) / n
        mean_len = (len(row["text"]) - n + 1) / n
        f = [
            n < sq._C4_MIN_WORDS,
            stop < sq._C4_MIN_STOPWORD_RATIO,
            top > sq._C4_MAX_TOP_TOKEN_SHARE,
            not (sq._C4_MEAN_LEN_LO <= mean_len <= sq._C4_MEAN_LEN_HI),
        ]
        e = exp[row["source"]]
        e["docs"] += 1
        e["kept"] += not any(f)
        for key, hit in zip(
            ["dropped_min_words", "dropped_stopword",
             "dropped_top_share", "dropped_mean_len"], f
        ):
            e[key] += hit
    assert set(got) == set(exp)
    for src, e in exp.items():
        g = got[src]
        for k, v in e.items():
            assert g[k] == v, (src, k)
        assert g["keep_rate"] == pytest.approx(
            round(e["kept"] / e["docs"], 4)
        )


def test_c4_filter_every_rule_bites_somewhere(spark):
    """Thresholds are tuned so the gate is non-degenerate: some docs
    kept, some dropped, and the three corpus-sensitive rules each
    catch at least one doc (mean_len is documented as non-biting on
    this vocabulary)."""
    agg = (
        sq.c4_quality_filter(spark, SF)
        .agg(*[
            F.sum(c).alias(c)
            for c in ["docs", "kept", "dropped_min_words",
                      "dropped_stopword", "dropped_top_share"]
        ])
        .first()
    )
    assert 0 < agg["kept"] < agg["docs"]
    for rule in ["dropped_min_words", "dropped_stopword",
                 "dropped_top_share"]:
        assert agg[rule] > 0, rule


# --- pii_scan + expectation face --------------------------------------------

_PLANTS = [
    ("contact me at alice.smith+spam@example.co.uk for details", "email"),
    ("my number is 415-555-2671 call anytime", "phone"),
    ("server at 10.0.255.7 timed out", "ipv4"),
    ("ssn 078-05-1120 was leaked", "ssn"),
    ("two mails a@b.io and c_d%e@f-g.org in one doc", "email2"),
]
_CLEAN = [
    "plain text with no identifiers at all",
    "version 1.2 of the spec shipped",  # digits but no PII shape
    "meeting at 10.30 in room 4",
]


def test_pii_scan_detects_planted_pii(spark, tmp_path):
    rows = [(t, "dirty") for t, _ in _PLANTS] + [
        (t, "clean") for t in _CLEAN
    ]
    d = _write_documents(spark, tmp_path, rows)
    got = {r["source"]: r.asDict() for r in sq.pii_scan(spark, d).collect()}
    dirty, clean = got["dirty"], got["clean"]
    assert dirty["email_hits"] == 3  # one plant + two in one doc
    assert dirty["phone_hits"] == 1
    assert dirty["ipv4_hits"] == 1
    assert dirty["ssn_hits"] == 1
    assert dirty["docs_with_pii"] == 5
    assert clean["docs_with_pii"] == 0
    assert all(clean[f"{k}_hits"] == 0 for k in PII_PATTERNS)
    assert clean["docs"] == len(_CLEAN)
    assert clean["chars_scanned"] == sum(len(t) for t in _CLEAN)


def test_expect_not_contain_pii_violations_and_strategies(spark):
    df = spark.createDataFrame(
        [("reach me: bob@corp.com",), ("totally clean",),
         ("ip 192.168.0.1 here",), ("also clean",), (None,)],
        "note string",
    )
    suite = ges.suite("pii").expect(
        "expect_column_values_to_not_contain_pii", column="note",
        mostly=0.9,
    )
    r = ges.SparkValidator(
        df, suite, result_format="SUMMARY"
    ).validate().results[0]
    assert r.success is False
    assert r.result["unexpected_count"] == 2
    assert r.result["element_count"] == 5


def test_expect_not_contain_pii_class_subset_and_extras(spark):
    df = spark.createDataFrame(
        [("bob@corp.com",), ("192.168.0.1",), ("AKIA1234SECRET",)],
        "note string",
    )
    subset = ges.suite("s").expect(
        "expect_column_values_to_not_contain_pii", column="note",
        pii_classes=["email"],
    )
    r = ges.SparkValidator(df, subset, result_format="SUMMARY").validate()
    assert r.results[0].result["unexpected_count"] == 1  # ip not scanned
    extra = ges.suite("e").expect(
        "expect_column_values_to_not_contain_pii", column="note",
        pii_classes=["email"], extra_patterns=[r"\bAKIA[0-9A-Z]{4,}\b"],
    )
    r = ges.SparkValidator(df, extra, result_format="SUMMARY").validate()
    assert r.results[0].result["unexpected_count"] == 2
    bad = ges.suite("b").expect(
        "expect_column_values_to_not_contain_pii", column="note",
        pii_classes=["email", "dna"],
    )
    # compile errors surface as exception EVRs (GE semantics), not raises
    r = ges.SparkValidator(df, bad, result_format="SUMMARY").validate()
    info = r.results[0].exception_info
    assert info["raised_exception"] is True
    assert "dna" in info["exception_message"]


# --- heavy_hitters ----------------------------------------------------------


def test_heavy_hitters_matches_exact_counts(spark):
    got = sq.heavy_hitters(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    counts = collections.Counter()
    for t in docs["text"]:
        counts.update(t.split(" "))
    exact = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert len(got) == min(sq._HH_TOPK, len(exact))
    for i, row in enumerate(sorted(got, key=lambda r: r["rank"])):
        assert (row["word"], row["cnt"]) == exact[i], i
        assert row["rank"] == i + 1


def test_heavy_hitters_survives_eviction_pressure(spark, tmp_path):
    """Adversarial stream for the sketch pass: vocabulary larger than
    the Misra-Gries capacity, heavy tokens interleaved with a long
    tail of near-unique noise so the decrement step fires constantly.
    The guarantee (any token with count > N/m is in the union of
    partition summaries) must keep the exact top ranks correct."""
    heavy = [("hot", 4000), ("warm", 2500), ("tepid", 1500)]
    noise = [(f"noise{i:05d}", 2) for i in range(600)]  # 600 > capacity
    tokens = []
    for w, c in heavy + noise:
        tokens.extend([w] * c)
    # deterministic interleave: stripe tokens across 40 docs round-robin
    docs = [[] for _ in range(40)]
    for i, t in enumerate(tokens):
        docs[i % 40].append(t)
    rows = [(" ".join(d), "s") for d in docs if d]
    d = _write_documents(spark, tmp_path, rows, partitions=8)
    got = sorted(sq.heavy_hitters(spark, d).collect(), key=lambda r: r["rank"])
    # the guaranteed region: every token with count > N/m (~36 here)
    # survives the sketch, and the exact recount ranks them correctly
    assert [(r["word"], r["cnt"]) for r in got[:3]] == heavy
    # tail ranks below the N/m threshold carry no completeness
    # guarantee, but every returned count is an EXACT recount
    counts = collections.Counter(tokens)
    for r in got:
        assert r["cnt"] == counts[r["word"]], r["word"]
    ranks = [(-r["cnt"], r["word"]) for r in got]
    assert ranks == sorted(ranks)  # deterministic tie-break held
