"""Seeded inputs and their reference answers, cached per seed.

The image table comes from the package's own generator
(great_expectations_spark/data/images.py, FIXTURES.md §1 defect
rates), called without Spark slice by slice. The documents table for
the dedup queries has the shape of the `documents` test table: 2,000
docs of 10–100 words from a small vocabulary, 20 sources, 5 langs,
with planted exact and near duplicates.

Reference answers are computed once per seed without Spark: column
facts with DuckDB over the written parquet, payload facts with the
codec over pandas, query answers with each query's registered oracle
SQL on DuckDB. A cached seed is re-fingerprinted before each use; a
mismatch fails loudly instead of validating against stale answers.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import time
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generator or the reference changes: old caches are
# then refused, not silently reused
GEN_VERSION = 5

BASE_ROWS = 25_000
FILES = 8
DELTA_ROWS = 2_500  # the batch appended before the incremental checkpoint run
SAMPLE_ROWS = 2_000  # payloads kept for the decode micro-timer
Z_THRESHOLD = 1.0

DOCS = 2_000
DOC_FILES = 2
DOC_SOURCES = 20
DOC_LANGS = ("en", "es", "zh", "de", "fr")
DOC_LANG_WEIGHTS = (0.40, 0.15, 0.15, 0.15, 0.15)
DOC_VOCAB = (
    "the a data spark table row column scan join merge sort hash "
    "filter window batch stream key value query group agg part line "
    "order small big fast slow dup vector customer"
).split()
# the shuffle-heavy dedup kernels, one query each
QUERIES = (
    "phash_hamming_neardup",
    "segment_dedup_stats",
    "dedup_minhash_pairs",
    "dedup_clusters",
)

SCHEMA = pa.schema(
    [
        pa.field("image_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("w", pa.int32()),
        pa.field("h", pa.int32()),
        pa.field("caption", pa.string()),
        pa.field("phash", pa.int64()),
        pa.field("fmt", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)


def images(start: int, end: int, seed: int) -> pa.Table:
    """Rows with ids [start, end) from the package's generator, seeded
    per slice the way its distributed writer seeds each partition."""
    from great_expectations_spark.data.images import _make_pdf

    pdf = _make_pdf(start, end, seed + start)
    return pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)


def write_images(root: str, seed: int) -> None:
    """FILES equal files of consecutive ids. With Spark's default
    split planning at local[2] (open cost 4 MB, split size = total /
    2) equal files pack into two equal scan tasks, one per core;
    fmt-partitioned files (90% jpeg) would leave one task with nine
    tenths of the scan."""
    os.makedirs(root, exist_ok=True)
    bounds = np.linspace(0, BASE_ROWS, FILES + 1).astype(int)
    for j in range(FILES):
        pq.write_table(
            images(int(bounds[j]), int(bounds[j + 1]), seed),
            os.path.join(root, f"part-{j:02d}.parquet"),
        )


def write_delta(root: str, seed: int) -> None:
    """One appended file whose ids continue the base range."""
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        images(BASE_ROWS, BASE_ROWS + DELTA_ROWS, seed),
        os.path.join(root, f"part-{FILES:02d}.parquet"),
    )


def documents(seed: int) -> pa.Table:
    """DOCS documents; about 1% are exact copies and 1% one-word edits
    of an earlier document, so the dedup kernels find pairs."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=DOCS)
    texts: List[str] = []
    for i in range(DOCS):
        r = rng.random()
        if i > 0 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.02:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "edited"
            texts.append(" ".join(words))
        else:
            idx = rng.integers(0, len(DOC_VOCAB), size=lengths[i])
            texts.append(" ".join(DOC_VOCAB[k] for k in idx))
    langs = rng.choice(len(DOC_LANGS), size=DOCS, p=DOC_LANG_WEIGHTS)
    return pa.table(
        [
            np.arange(DOCS, dtype=np.int64),
            texts,
            [DOC_LANGS[k] for k in langs],
            [f"src{i % DOC_SOURCES}" for i in range(DOCS)],
            np.array([len(t) for t in texts], dtype=np.int64),
        ],
        schema=DOC_SCHEMA,
    )


def write_documents(root: str, seed: int) -> None:
    """`root` is the documents.parquet directory the queries read."""
    os.makedirs(root, exist_ok=True)
    table = documents(seed)
    for j, idx in enumerate(np.array_split(np.arange(DOCS), DOC_FILES)):
        pq.write_table(
            table.take(pa.array(idx)), os.path.join(root, f"part-{j}.parquet")
        )


# -- reference answers -------------------------------------------------------

_COLUMN_FACTS = """
SELECT count(*) AS rows,
       count(*) FILTER (WHERE caption IS NULL) AS caption_null,
       count(*) FILTER (WHERE fmt NOT IN ('jpeg', 'png', 'webp')) AS fmt_bad,
       count(*) FILTER (WHERE w < 1 OR w > 64) AS w_bad,
       count(*) FILTER (WHERE h < 1 OR h > 64) AS h_bad,
       count(*) FILTER (WHERE caption IS NOT NULL
                          AND (length(caption) < 1 OR length(caption) > 200))
           AS caption_len_bad,
       avg(w) AS w_mean,
       count(DISTINCT fmt) AS fmt_distinct
FROM t
"""
_DUP_ROWS = """
SELECT coalesce(sum(c), 0) FROM (
  SELECT count(*) AS c FROM t GROUP BY image_id HAVING count(*) > 1)
"""
_Z_BAD = f"""
WITH s AS (SELECT avg(w) AS m, stddev_samp(w) AS sd FROM t)
SELECT count(*) FROM t, s
WHERE w IS NOT NULL AND NOT (abs((w - s.m) / s.sd) < {Z_THRESHOLD})
"""


def column_facts(files: List[str]) -> Dict[str, float]:
    import duckdb

    con = duckdb.connect()
    try:
        con.read_parquet(files).create_view("t")
        rel = con.execute(_COLUMN_FACTS)
        names = [d[0] for d in rel.description]
        facts = dict(zip(names, rel.fetchone()))
        facts["dup_rows"] = con.execute(_DUP_ROWS).fetchone()[0]
        facts["z_bad"] = con.execute(_Z_BAD).fetchone()[0]
    finally:
        con.close()
    return {k: (float(v) if k == "w_mean" else int(v)) for k, v in facts.items()}


def payload_facts(files: List[str]) -> Dict[str, int]:
    """The four payload checks' unexpected counts, row by row with the
    package's codec over pandas."""
    from great_expectations_spark.payload.codec import (
        decode_image,
        phash_from_pixels,
    )

    out = dict.fromkeys(
        ("undecodable", "dims_bad", "fmt_mismatch", "phash_bad"), 0
    )
    for path in files:
        pdf = pq.read_table(path).to_pandas()
        cols = (pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"], pdf["phash"])
        for b, w, h, fmt, ph in zip(*cols):
            if b is None:
                continue
            try:
                dfmt, dw, dh, px = decode_image(b)
            except ValueError:
                for k in out:
                    out[k] += 1
                continue
            out["dims_bad"] += not (dw == w and dh == h)
            out["fmt_mismatch"] += dfmt != fmt
            out["phash_bad"] += phash_from_pixels(px) != ph
    return out


def query_answers(docs_dir: str) -> Dict[str, tuple]:
    """Each query's oracle answer on DuckDB, as (columns, rows) in the
    normal form of tools/check_oracle.py."""
    import duckdb

    from great_expectations_spark import suite_queries
    from tools.check_oracle import norm_rows

    reg = suite_queries.registry()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(docs_dir, '*.parquet')}'"
        )
        out = {}
        for name in QUERIES:
            res = con.sql(reg[name][1])
            out[name] = norm_rows(res.columns, [tuple(r) for r in res.fetchall()])
    finally:
        con.close()
    return out


# -- cache -------------------------------------------------------------------

MANIFEST = "manifest.json"


def _files(root: str, suffix: str = "") -> List[str]:
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, f) for f in names if f.endswith(suffix))
    return sorted(out)


def fingerprint(root: str) -> str:
    """SHA-256 over every file of the seed's cache but its manifest."""
    h = hashlib.sha256()
    for p in _files(root):
        if os.path.basename(p) == MANIFEST:
            continue
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Inputs:
    """One seed's inputs under <cache>/seed-<n>:
    base/                the image table (BASE_ROWS rows, FILES files)
    delta/               one appended file (DELTA_ROWS rows)
    docs/documents.parquet/  the documents table
    queries.pkl          the queries' oracle answers
    manifest.json        fingerprint, generation time, reference answers."""

    def __init__(self, cache_root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(cache_root, f"seed-{seed}")
        self.base = os.path.join(self.dir, "base")
        self.delta = os.path.join(self.dir, "delta")
        self.docs = os.path.join(self.dir, "docs")
        self.manifest: Dict = {}
        self.query_answers: Dict[str, tuple] = {}

    def ensure(self) -> "Inputs":
        mpath = os.path.join(self.dir, MANIFEST)
        if not os.path.exists(mpath):
            self._generate()
        with open(mpath) as f:
            self.manifest = json.load(f)
        if self.manifest.get("version") != GEN_VERSION:
            raise RuntimeError(
                f"input cache {self.dir} was made by generator version "
                f"{self.manifest.get('version')}, this is {GEN_VERSION}; "
                "delete the cache directory"
            )
        if fingerprint(self.dir) != self.manifest["fingerprint"]:
            raise RuntimeError(
                f"input cache {self.dir} does not match its fingerprint; "
                "delete the cache directory"
            )
        with open(os.path.join(self.dir, "queries.pkl"), "rb") as f:
            self.query_answers = pickle.load(f)
        return self

    def _generate(self) -> None:
        """Write the tables and their reference answers to a temporary
        directory, then rename it into place."""
        t0 = time.perf_counter()
        tmp = self.dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_images(os.path.join(tmp, "base"), self.seed)
        write_delta(os.path.join(tmp, "delta"), self.seed)
        docs = os.path.join(tmp, "docs", "documents.parquet")
        write_documents(docs, self.seed)
        gen_s = time.perf_counter() - t0
        base = _files(os.path.join(tmp, "base"), ".parquet")
        delta = _files(os.path.join(tmp, "delta"), ".parquet")
        with open(os.path.join(tmp, "queries.pkl"), "wb") as f:
            pickle.dump(query_answers(docs), f)
        base_payload, delta_payload = payload_facts(base), payload_facts(delta)
        manifest = {
            "version": GEN_VERSION,
            "seed": self.seed,
            "rows": BASE_ROWS,
            "delta_rows": DELTA_ROWS,
            "gen_s": gen_s,
            "fingerprint": fingerprint(tmp),
            "reference": {**column_facts(base), **base_payload},
            # payload counts are per row, so the appended table's add up
            "reference_appended": {
                **column_facts(base + delta),
                **{k: v + delta_payload[k] for k, v in base_payload.items()},
            },
        }
        manifest["reference_s"] = time.perf_counter() - t0 - gen_s
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def payload_sample(self) -> List[bytes]:
        """A fixed sample of the generated payloads (first base file)."""
        first = _files(self.base, ".parquet")[0]
        col = pq.read_table(first, columns=["bytes"]).column("bytes")
        return [b for b in col.to_pylist()[:SAMPLE_ROWS] if b is not None]
