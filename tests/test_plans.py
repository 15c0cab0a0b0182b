"""Plan-shape regression tests: the physical-plan properties PLANS.md
documents, asserted so a refactor cannot silently reintroduce a
duplicated scan, a lost pushdown, or payload-column reads in
stats-only suites."""

import io
import contextlib

import great_expectations_spark as ges
from great_expectations_spark import suite_queries as sq
from great_expectations_spark.data.images import images_df

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="simple"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    txt = plan_of(sq.between_violations(spark, SF), "formatted")
    assert "PushedFilters: [Or(LessThan(o_totalprice" in txt
    # column pruning: only the 2 referenced columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in txt


def test_lsh_pairs_single_scan_no_union(spark):
    # AQE's static explain hides ReuseExchange (it dedups at runtime
    # stage creation); toggle it off to assert the canonical shape
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        txt = plan_of(sq.dedup_minhash_pairs(spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert txt.count("FileScan") == 1, "signature pipeline duplicated"
    assert "Union" not in txt
    # the bucket-size join probe must reuse the counts build's band
    # exchange — that reuse IS the single-input-scan property
    assert "ReusedExchange" in txt
    # no sort-based WindowExec (costs ~100us per tiny bucket); bucket
    # state is bounded by construction instead: the collect_list group
    # key includes star_key (mega-bucket rows are singleton groups)
    # and the n-filter runs before the agg
    assert "Window" not in txt
    assert "ShuffledHashJoin" in txt and "SortMergeJoin" not in txt
    assert "collect_list(doc_id" in txt and txt.count("sk#") > 0


def test_stats_only_suite_never_reads_bytes(spark):
    df = images_df(spark, n_rows=500, seed=1)
    s = (
        ges.suite("scalar")
        .expect("expect_column_values_to_not_be_null", column="caption")
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=0, max_value=100)
    )
    compiled = []
    from great_expectations_spark.operators.registry import get_compiler
    from great_expectations_spark.plans.planner import (
        collect_agg_exprs,
        split_checks,
    )

    for i, cfg in enumerate(s.expectations):
        compiled.append(get_compiler(cfg.expectation_type)(i, cfg, df.schema))
    _, map_checks, agg_checks, job_checks = split_checks(compiled)
    exprs = collect_agg_exprs(map_checks, agg_checks, job_checks)
    agg_df = df.agg(*[e.alias(k.replace(":", "_").replace(".", "_"))
                      for k, e in exprs.items()])
    txt = plan_of(agg_df, "formatted")
    assert "bytes" not in txt.split("ReadSchema:")[-1].splitlines()[0]


def test_uniqueness_is_two_phase_hash_agg(spark):
    txt = plan_of(sq.uniqueness_duplicates(spark, SF))
    # partial agg before the exchange, no Window
    assert "partial_count" in txt or txt.count("HashAggregate") >= 2
    assert "Window" not in txt


def test_referential_is_broadcast_anti_join(spark):
    txt = plan_of(sq.referential_violations(spark, SF))
    assert "LeftAnti" in txt
    assert "Broadcast" in txt


def test_split_overlap_prunes_to_two_columns(spark):
    """Theta-sketch overlap reads only (source, text) — never doc_id
    or the other document columns — and plans no join: the overlap is
    sketch algebra, not distinct+join."""
    txt = plan_of(sq.split_fingerprint_overlap(spark, SF), "formatted")
    assert "ReadSchema: struct<text:string,source:string>" in txt
    assert "Join" not in txt


def test_cardinality_by_hour_prunes_to_two_columns(spark):
    txt = plan_of(sq.events_cardinality_by_hour(spark, SF), "formatted")
    assert "ReadSchema: struct<ts:timestamp" in txt
    assert "user_id:bigint" in txt
    assert "props" not in txt and "value" not in txt.split("ReadSchema")[1]


def test_simhash_hashes_each_token_once(spark):
    """dedup_simhash's optimized plan contains exactly ONE md5: the
    token hash is projected to an int array before the 16 bit votes.
    Inlining the hash into each vote (the pre-r4 shape) shows up here
    as 16 md5 occurrences."""
    df = sq.dedup_simhash(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 1, plan


def test_source_mix_single_scan_one_exchange(spark):
    # structural counts from the simple tree (formatted mode repeats
    # every node in its detail section)
    tree = plan_of(sq.source_mix_sample(spark, SF))
    assert tree.count("FileScan") == 1
    # one partial->final hash agg pair around one exchange
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2
    txt = plan_of(sq.source_mix_sample(spark, SF), "formatted")
    # only the 2 referenced columns are read
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in txt
    # each hash is computed ONCE and the 16-bit arithmetic reads the
    # projected prefix (the dedup_simhash CSE lesson)
    assert txt.count("md5(") == 2


def test_seq_packing_sharded_window_two_exchanges(spark):
    tree = plan_of(sq.seq_packing_stats(spark, SF))
    assert tree.count("FileScan") == 1
    # one wide exchange on (source, shard) for the window, one tiny
    # rollup exchange on source; the per-shard agg collapses in place
    assert tree.count("Exchange") == 2
    assert "Window" in tree
    txt = plan_of(sq.seq_packing_stats(spark, SF), "formatted")
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in txt


def test_c4_filter_and_pii_scan_single_scan_no_python(spark):
    for q in (sq.c4_quality_filter, sq.pii_scan):
        tree = plan_of(q(spark, SF))
        assert tree.count("FileScan") == 1, q.__name__
        # one partial->final hash agg pair on source
        assert tree.count("Exchange") == 1, q.__name__
        assert "Python" not in tree and "MapInPandas" not in tree
        txt = plan_of(q(spark, SF), "formatted")
        assert "ReadSchema: struct<text:string,source:string>" in txt


def test_heavy_hitters_sketch_then_broadcast_recount(spark):
    tree = plan_of(sq.heavy_hitters(spark, SF))
    # two passes by design: the MG sketch scan and the exact recount
    assert tree.count("FileScan") == 2
    assert tree.count("MapInPandas") == 1
    # candidate set reaches the recount via a broadcast semi-join —
    # token-level rows are never shuffled to a join
    assert "BroadcastHashJoin" in tree and "LeftSemi" in tree
    assert "SortMergeJoin" not in tree
    # exchanges: candidate distinct (tiny), recount agg (post
    # map-side combine), final single-partition window (tiny)
    assert tree.count("Exchange") == 3
    txt = plan_of(sq.heavy_hitters(spark, SF), "formatted")
    assert "ReadSchema: struct<text:string>" in txt


def test_image_gate_prunes_text_single_exchange(spark):
    tree = plan_of(sq.image_quality_gate(spark, SF))
    assert tree.count("FileScan") == 1
    assert tree.count("Exchange") == 1  # one hash agg on source
    assert "Python" not in tree
    txt = plan_of(sq.image_quality_gate(spark, SF), "formatted")
    # the gate is metadata-only: the text column is never read
    assert (
        "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"
        in txt
    )


def test_unigram_lm_caches_counts_and_broadcasts_model(spark):
    tree = plan_of(sq.unigram_logprob_quality(spark, SF))
    # pass 1 (LM fit) is persisted: BOTH consumers (top-V vocab, total
    # mass) read the cached count table, so the counts shuffle never
    # re-executes. (Static explain inlines the cache-build subtree —
    # and its FileScan — under every InMemoryTableScan, so the cache
    # reads are the assertable property, not the raw FileScan count.)
    # 3 reads: top-V vocab, total mass under the logprobs, total mass
    # again under the OOV floor
    assert tree.count("InMemoryTableScan") == 3
    # top-V selection is per-partition top-V, never a full sort
    assert "TakeOrderedAndProject" in tree
    assert tree.count("Sort ") == 0
    # the V-row logprob table and 1-row total reach the scoring scan
    # as broadcasts; token-level rows are never shuffled to a join
    assert "BroadcastHashJoin" in tree and "LeftOuter" in tree
    assert "SortMergeJoin" not in tree and "Python" not in tree


# --- scan allow-list -----------------------------------------------------------
# Parquet FileScans in each query's final AQE plan at sf0.001, and the
# reason for every scan past the first. The query sample (vec_id < 10)
# is a filter pushed into its own scan; a FileScan is never shared,
# only an exchange above it is.
_SCAN_ALLOWED = {
    "embedding_cosine_topk": (2, "corpus + query sample"),
    "ann_ivf_topk": (3, "corpus + query sample + label-centroid build"),
    "ann_multiprobe_topk": (
        3, "corpus + query sample + label-centroid build"
    ),
    "ann_kmeans_topk": (
        4, "query sample + k-means seed (sort-limit) + one corpus pass"
        " per Lloyd assignment (2)",
    ),
    "ann_recall": (
        8, "exact corpus pass + one query sample, broadcast to every"
        " ranking + ivf and multiprobe each join the corpus to their"
        " own probes + one label-centroid build + k-means seed and 2"
        " assignment passes",
    ),
    "segment_dedup_stats": (
        2, "text for the segments + source alone for docs per source"
    ),
}


def _final_scans(df):
    """(FileScan column lists, localCheckpoint scan count) of the
    final AQE plan, after running `df`."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    cols = [
        {c.split("#")[0] for c in m.split(",")}
        for m in re.findall(r"FileScan parquet \[([^\]]*)\]", final)
    ]
    return cols, final.count("Scan ExistingRDD")


def test_scan_allow_list(spark):
    for name, (allowed, reason) in _SCAN_ALLOWED.items():
        cols, checkpoints = _final_scans(getattr(sq, name)(spark, SF))
        assert len(cols) <= allowed, (name, len(cols), reason)
        assert checkpoints == 0, name
        if name == "segment_dedup_stats":
            # tokenize/explode/md5 runs once: one scan reads `text`
            assert sum("text" in c for c in cols) == 1, cols


def test_flagship_suite_decodes_once_per_scan(spark, tmp_path, monkeypatch):
    """PLANS.md §2: the flagship suite's four image checks share one
    decode. Its single-pass plan holds exactly one ArrowEvalPython,
    which evaluates one UDF, and reads `bytes` in one FileScan."""
    import re

    import bench
    from pyspark.sql import functions as F

    from great_expectations_spark.data.images import write_images_table
    from great_expectations_spark.plans import planner as pl

    path = str(tmp_path / "images")
    write_images_table(spark, path, n_rows=500, seed=1)
    df = spark.read.parquet(path)
    plans = []
    orig_run = pl.run_single_pass

    def run_spy(df_, partials, violation_exprs, **kw):
        job = df_.groupBy(F.spark_partition_id().alias("__pid")).agg(
            *[e.alias(a) for a, e in partials.items()], *violation_exprs
        )
        qe = job._jdf.queryExecution()
        plans.append(
            (qe.optimizedPlan().toString(), qe.executedPlan().toString())
        )
        return orig_run(df_, partials, violation_exprs, **kw)

    monkeypatch.setattr(pl, "run_single_pass", run_spy)
    res = ges.validate(df, bench.image_suite(), result_format="SUMMARY")
    assert all(
        not r.exception_info.get("raised_exception") for r in res.results
    )
    assert len(plans) == 1
    optimized, executed = plans[0]
    evals = re.findall(r"ArrowEvalPython \[([^\]]*)\]", optimized)
    assert len(evals) == 1, optimized
    # one evaluated UDF: one "name(args)#id" entry, the fused decode
    assert len(re.findall(r"\)#\d+", evals[0])) == 1, evals
    assert evals[0].startswith("_image_features("), evals
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", executed)
    with_bytes = [
        s for s in scans if "bytes" in {c.split("#")[0] for c in s.split(",")}
    ]
    assert len(with_bytes) == 1, executed
