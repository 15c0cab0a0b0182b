"""Streaming MinHash-LSH near-duplicate candidates with bounded
per-bucket state (applyInPandasWithState).

Spark has no built-in streaming near-dup operator: exact dedup is
dropDuplicatesWithinWatermark (streaming/dedup_stream.py), but "is
this document a NEAR-duplicate of anything seen recently?" needs
custom keyed state — per LSH band bucket, who is already here. This
is the streaming face of the batch dedup_minhash_pairs operator
(suite_queries.py) with the SAME signature scheme (MinHash 8, bands
4x2, 12-hex band values) and the SAME hybrid capped-bucket semantics:

- a bucket holding < cap members emits exact pairs (new doc vs every
  stored member) and stores the newcomer;
- once a bucket reaches the cap (boilerplate/empty-doc mega-buckets)
  it stops storing and emits one STAR pair (bucket hub -> newcomer),
  preserving connected components at O(1) state and O(1) emission;
- idle buckets are EVICTED by an event-time timeout one horizon past
  the watermark, so state is O(active buckets x cap), never
  O(stream lifetime).

A duplicate arriving after its bucket aged out produces no pair —
the standard bounded-state recall tradeoff, identical in kind to the
dedup_stream horizon and the batch LSH cap.

Per-row signatures here use array expressions rather than the batch
path's explode + two-phase agg: a stream stage must stay stateless
before the keyed-state operator (an aggregate would be a second
stateful operator). Band values are bit-for-bit the batch ones —
tests/test_lsh_stream.py checks them against
suite_queries.dedup_minhash_signatures, and the stream's pairs
against the batch operator, on the same corpus.

Reference: the engine-side analogue of great_expectations
expect_column_values_to_be_unique (core/expect_column_values_to_be_unique.py)
generalized to near-duplicates over an unbounded stream; no reference
counterpart exists (it has no streaming support at all).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..suite_queries import _BANDS, _N_MINHASH, _spark_shingles_col

_OUT_SCHEMA = "doc_a long, doc_b long, band_idx int, bv string"
_STATE_SCHEMA = "hub long, n long, members array<long>"


def _band_rows(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, band_idx, bv) for every row of ``docs`` whose ``text``
    has 3+ tokens, matching the batch signature pipeline
    (suite_queries.dedup_minhash_signatures) exactly: its 3-word
    shingles (_spark_shingles_col) -> md5 -> 8 minima of disjoint
    4-hex windows -> band = first 12 hex of md5(mh_{2b} || mh_{2b+1}).

    The md5 array is its own projection, built once per row before
    the minima. Inlined, each of the 8 interpreted
    array_min(transform(..)) calls would re-hash every shingle; Spark
    keeps the two projections apart because the array is referenced
    8 times."""
    hs = docs.where(F.size(F.split(F.col("text"), " ")) >= 3).select(
        *keep, F.transform(_spark_shingles_col(), F.md5).alias("hs")
    )
    mh = [
        F.array_min(
            F.transform("hs", lambda h: F.substring(h, 4 * j + 1, 4))
        )
        for j in range(_N_MINHASH)
    ]
    bands = F.array(
        *[
            F.substring(F.md5(F.concat(mh[2 * b], mh[2 * b + 1])), 1, 12)
            for b in range(_BANDS)
        ]
    )
    return hs.select(*keep, F.posexplode(bands).alias("band_idx", "bv"))


def _make_bucket_fn(cap: int, horizon_ms: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            hub, n, members = state.get
            members = list(members)
        else:
            hub, n, members = None, 0, []
        seen = set(members)
        out_a: list = []
        out_b: list = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "doc_id"])
            for doc in pdf["doc_id"]:
                doc = int(doc)
                if doc in seen or doc == hub:
                    continue
                if hub is None:
                    hub = doc
                elif n < cap:
                    for m in members:
                        out_a.append(min(m, doc))
                        out_b.append(max(m, doc))
                else:
                    out_a.append(min(hub, doc))
                    out_b.append(max(hub, doc))
                if n < cap:
                    members.append(doc)
                    seen.add(doc)
                hub = doc if hub is None else min(hub, doc)
                n += 1
        state.update((hub, n, members))
        state.setTimeoutTimestamp(
            state.getCurrentWatermarkMs() + horizon_ms
        )
        if out_a:
            band_idx, bv = key
            k = len(out_a)
            yield pd.DataFrame(
                {
                    "doc_a": pd.Series(out_a, dtype="int64"),
                    "doc_b": pd.Series(out_b, dtype="int64"),
                    "band_idx": pd.Series([band_idx] * k, dtype="int32"),
                    "bv": pd.Series([bv] * k, dtype="object"),
                }
            )

    return fn


def lsh_candidates_stream(
    stream: DataFrame,
    event_time_col: str = "ts",
    watermark: str = "30 minutes",
    bucket_cap: int = 64,
    idle_horizon: str = "1 hour",
) -> DataFrame:
    """Near-duplicate candidate pairs over a document stream.

    Input: streaming DataFrame with (doc_id long, text string,
    <event_time_col> timestamp). Output (append mode): one row per
    candidate pair per band bucket — downstream consumers dedup on
    (doc_a, doc_b) exactly like the batch pipeline's DISTINCT.

    State per bucket: hub + up to ``bucket_cap`` member ids, evicted
    ``idle_horizon`` past the watermark after the bucket's last
    arrival. A pair spanning longer than watermark+horizon is missed
    by construction (bounded state); size the horizon to the window
    within which near-dups matter (e.g. a crawl snapshot).
    """
    horizon_ms = _interval_ms(idle_horizon)
    bands = _band_rows(
        stream.select("doc_id", F.col(event_time_col).alias("ts"), "text"),
        "doc_id",
        "ts",
    ).withWatermark("ts", watermark)
    return bands.groupBy("band_idx", "bv").applyInPandasWithState(
        _make_bucket_fn(bucket_cap, horizon_ms),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """'1 hour' / '30 minutes' / '90 seconds' -> milliseconds."""
    parts = interval.strip().split()
    if len(parts) != 2:
        raise ValueError(f"bad interval: {interval!r}")
    qty, unit = parts
    unit = unit.rstrip("s")
    if unit not in _UNIT_MS:
        raise ValueError(f"bad interval unit: {interval!r}")
    return int(float(qty) * _UNIT_MS[unit])
