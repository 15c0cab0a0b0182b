"""functions/fingerprint.py: the Spark expression pipeline must match
a pure-python reference implementation of winnowing (Schleimer et
al.) exactly, and deliver the containment guarantee (a shared
substring of length >= k+w-1 yields a common fingerprint)."""

import hashlib

from great_expectations_spark.functions.fingerprint import (
    winnow_fingerprints,
)

K, W = 7, 5


def py_winnow(text: str) -> list:
    t = text.lower()
    if len(t) < K:
        return []
    hashes = [
        int(hashlib.md5(t[i : i + K].encode()).hexdigest()[:4], 16)
        for i in range(len(t) - K + 1)
    ]
    if len(hashes) >= W:
        fps = {
            min(hashes[j : j + W]) for j in range(len(hashes) - W + 1)
        }
    else:
        fps = {min(hashes)}
    return sorted(fps)


def spark_winnow(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = winnow_fingerprints(df, "text", keep=["id"]).collect()
    return {r.id: list(r.fps) for r in rows}


def test_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",
        "sevench",          # exactly k chars -> 1 gram, short-array rule
        "abcdefgh",         # k+1 chars -> 2 grams < w
        "aaaaaaaaaaaaaaaa", # degenerate repeats
        "Mixed CASE Text Should Normalize",
        "",
    ]
    got = spark_winnow(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), t


def test_shared_substring_guarantee(spark):
    shared = "unmistakably shared passage of text"
    a = "prefix one two three " + shared + " suffix alpha"
    b = "completely different opening, " + shared + ". and ending"
    got = spark_winnow(spark, [a, b])
    assert set(got[0]) & set(got[1]), "shared substring must intersect"

    # unrelated docs of similar length should (with 16-bit hashes)
    # share far fewer fingerprints than the related pair
    c = "this document discusses entirely other topics altogether ok"
    got2 = spark_winnow(spark, [a, c])
    assert len(set(got2[0]) & set(got2[1])) < len(
        set(got[0]) & set(got[1])
    )
