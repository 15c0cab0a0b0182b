"""Declarative ANN-recall gate: ``expect_ann_recall_to_be_greater_than``.

The ann_recall audit query (suite_queries.py) exposed a real failure
mode — bucketing an ANN probe by a NON-geometric label column gives
recall@3 ≈ 0.17 while learned k-means buckets give ≈ 0.80 — but an
audit query can only be *looked at*. This expectation makes recall a
suite-failable contract: a checkpoint carrying it goes red when an
index/bucketing change quietly destroys retrieval quality.

Semantics: over the validated DataFrame (an embeddings-shaped table),
compute exact brute-force cosine top-k for a small deterministic query
sample, compute the ANN candidate top-k for the configured method, and
require recall@k strictly greater than ``min_recall``.

Methods:
- ``bucket``  — IVF-style probe of ONE existing bucket column: the
  query probes its nearest bucket mean only. This is the production
  shape of an IVF index whose partitions already exist (and the shape
  that fails when the column is not geometric).
- ``kmeans``  — learn the buckets first (fixed-iteration Lloyd, seed =
  the K lowest-id vectors), then probe as above.

Kernels: the ann_recall audit query's own, from suite_queries —
``cosine_topk`` (the exact baseline), ``_ivf_centroids`` and
``kmeans_buckets`` (the buckets), ``ivf_topk`` (the probe) and
``recall_counts`` (returned, hits and exact neighbors, counted in one
job). ``method="bucket"|"kmeans"`` over the embeddings table gives
the ``ivf``/``kmeans`` rows of ann_recall.

Reference: the reference has no ANN surface (engine-original
expectation); EVR shape follows its aggregate expectations
(expect_column_quantile_values_to_be_between-style observed_value +
details), so render/store actions treat it like any other EVR.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, ShortType, StructType

from .checks import JobCheck, MetricCache


def _check_bucket_type(schema: StructType, bucket_column: str) -> None:
    """The bucket probe carries labels as `bid int` (_ivf_centroids),
    so only byte, short and int label columns are accepted."""
    if bucket_column not in schema.fieldNames():
        return  # left to Spark's own unresolved-column error
    dtype = schema[bucket_column].dataType
    if not isinstance(dtype, (ByteType, ShortType, IntegerType)):
        raise ValueError(
            f"bucket_column {bucket_column!r} has type "
            f"{dtype.simpleString()}; the bucket method needs a byte, "
            "short or int label column"
        )


def ann_recall_at_k(
    df: DataFrame,
    id_column: str = "vec_id",
    embedding_column: str = "embedding",
    bucket_column: str = "label",
    method: str = "bucket",
    k: int = 3,
    query_ids: Optional[List[Any]] = None,
    n_queries: int = 10,
    kmeans_k: int = 8,
    kmeans_iters: int = 2,
) -> Dict[str, Any]:
    """recall@k of the configured ANN method vs the exact baseline
    over `df`. Returns {recall, hits, exact_neighbors, queries,
    returned, method, k}. recall is None when the query sample has no
    live (non-zero-norm) exact neighbors."""
    from .. import suite_queries as sq

    if method not in ("bucket", "kmeans"):
        raise ValueError(f"unknown ANN method {method!r}")
    if method == "bucket":
        _check_bucket_type(df.schema, bucket_column)
    base = df.select(
        F.col(id_column).alias("nid"),
        F.col(embedding_column).cast("array<double>").alias("v"),
        *([F.col(bucket_column).alias("bid")] if method == "bucket" else []),
    )
    if query_ids is None:
        # deterministic sample: the n smallest ids (one slim sort-
        # limit job over the id column only; at corpus scale pass
        # explicit query_ids instead)
        query_ids = [
            r.nid
            for r in base.select("nid").orderBy("nid").limit(n_queries).collect()
        ]
    q = base.where(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("qid"), F.col("v").alias("qv")
    )
    if method == "bucket":
        cand, cent = base, sq._ivf_centroids(base)
    else:
        cand, cent = sq.kmeans_buckets(base, kmeans_k, kmeans_iters)
    c = sq.recall_counts(
        sq.ivf_topk(cand, q, cent, 1, k), sq.cosine_topk(base, q, k)
    ).first()
    exact_n = c.exact_neighbors
    recall = round(c.hits / exact_n, 4) if exact_n else None
    return {
        "method": method,
        "k": k,
        "queries": len(query_ids),
        "returned": c.returned,
        "hits": c.hits,
        "exact_neighbors": exact_n,
        "recall": recall,
    }


def compile_ann_recall_greater_than(index, cfg, schema) -> JobCheck:
    """expect_ann_recall_to_be_greater_than: recall@k of the
    configured ANN probe vs exact brute force must be STRICTLY greater
    than ``min_recall``. kwargs: min_recall (required), method
    ('bucket'|'kmeans'), k, id_column, embedding_column,
    bucket_column, query_ids | n_queries, kmeans_k, kmeans_iters.
    A sample with zero live exact neighbors fails (recall None):
    a gate that cannot measure must not pass. A kmeans_iters below 1,
    or a bucket_column that is not byte, short or int, fails to
    compile with a ValueError."""
    from .. import suite_queries as sq

    kw = cfg.kwargs
    min_recall = float(kw["min_recall"])
    method = kw.get("method", "bucket")
    bucket_column = kw.get("bucket_column", "label")
    kmeans_iters = int(kw.get("kmeans_iters", 2))
    if method == "bucket":
        _check_bucket_type(schema, bucket_column)
    elif method == "kmeans":
        sq.check_kmeans_iters(kmeans_iters)

    def run(df: DataFrame, stats: Dict[str, Any], cache: MetricCache):
        out = ann_recall_at_k(
            df,
            id_column=kw.get("id_column", "vec_id"),
            embedding_column=kw.get("embedding_column", "embedding"),
            bucket_column=bucket_column,
            method=method,
            k=int(kw.get("k", 3)),
            query_ids=kw.get("query_ids"),
            n_queries=int(kw.get("n_queries", 10)),
            kmeans_k=int(kw.get("kmeans_k", 8)),
            kmeans_iters=kmeans_iters,
        )
        recall = out["recall"]
        success = recall is not None and recall > min_recall
        details = dict(out)
        details["min_recall"] = min_recall
        return success, {
            "observed_value": recall,
            "details": details,
        }

    return JobCheck(index=index, config=cfg, run=run)


ANN_COMPILERS = {
    "expect_ann_recall_to_be_greater_than": compile_ann_recall_greater_than,
}
