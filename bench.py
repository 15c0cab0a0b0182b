"""Headline benchmark: every registered operator query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the flagship 13-expectation image suite
at local[2] and local[8] (N vs 4N) over one materialized
$SPARK_GRAFT_IMG_ROWS-row image table.

perfbench/ (BENCHMARK.json) is the benchmark of record; this script is
a coarse headline. Each query is run once to warm codegen and parquet
footers, then timed once. Each of SCALE_REPEATS rounds validates the
suite in a fresh process at local[2] and then at local[8]; a round's
efficiency is t_lo / (4 * t_hi) of the two levels' best times. The bench
prints every pair and their median efficiency as one JSON line.

Usage: python bench.py
       python bench.py --suite-run CORES [REPEATS]   (one fresh-process
       sample, printed as JSON; used by the scaling rounds)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
IMG_ROWS = int(os.environ.get("SPARK_GRAFT_IMG_ROWS", "2000000"))
IMG_PATH = f"/tmp/ges_bench_images_{IMG_ROWS}"
# N vs 4N parallelism. 2-vs-8 keeps both levels' full thread footprint
# (task threads plus their python workers) inside the cores of a
# 32-core host, so both run in comparable frequency states.
SCALE_LEVELS = (2, 8)
SCALE_REPEATS = 3
# Driver heap: 16g on hosts with 64 GB or more, a quarter of physical
# memory below that. The driver JVM of main() outlives spark.stop(),
# so it and one suite-run JVM must fit in memory together.
_HEAP_MB = min(
    16 << 10, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 22
)
DRIVER_MEM = f"{_HEAP_MB}m"
# G1 sizes its GC thread pools to all host vCPUs by default, which at
# 16 task threads storms the collector (2.5x JVM CPU measured). GC
# threads should track executor cores, as spark.executor.extraJavaOptions
# would set them on a cluster; the big young gen (half the heap)
# absorbs the churny Arrow/parquet byte arrays.
GC_OPTS = (
    f"-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -Xmn{_HEAP_MB // 2}m"
)
ARROW_BATCH = "10000"
SPLITS_PER_CORE = 6


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def make_session(cores: int, split_cores: int = None) -> SparkSession:
    # Size input splits so a scan plans SPLITS_PER_CORE tasks per core,
    # the split-to-executor ratio a large table gets from 128 MB splits
    # on a real cluster. `split_cores` pins both scaling levels to the
    # high level's splits so they execute identical task sets.
    size = _dir_bytes(IMG_PATH) if os.path.isdir(IMG_PATH) else 0
    mpb = min(
        max(size // (SPLITS_PER_CORE * (split_cores or cores)), 1 << 20),
        128 << 20,
    )
    # single-threaded BLAS in python workers: nested OpenMP/BLAS pools
    # oversubscribe at high parallelism
    for v in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(v, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"ges-bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.driver.extraJavaOptions", GC_OPTS)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH
        )
        .config("spark.sql.files.maxPartitionBytes", str(mpb))
        .config("spark.sql.files.openCostInBytes", "64k")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def image_suite():
    import great_expectations_spark as ges

    return (
        ges.suite("images-bench")
        .expect("expect_table_columns_to_match_set",
                column_set=["image_id", "bytes", "w", "h", "fmt",
                            "caption", "phash"])
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"], mostly=0.99)
        .expect("expect_column_values_to_be_between", column="w",
                min_value=1, max_value=64)
        .expect("expect_column_values_to_be_between", column="h",
                min_value=1, max_value=64)
        .expect("expect_column_value_lengths_to_be_between",
                column="caption", min_value=1, max_value=200, mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
        .expect("expect_column_unique_value_count_to_be_between",
                column="fmt", min_value=1, max_value=10)
        .expect("expect_column_values_to_be_unique", column="image_id",
                mostly=0.99)
        .expect("expect_image_bytes_to_be_decodable", column="bytes",
                mostly=0.99)
        .expect("expect_image_dimensions_to_match_metadata", column="bytes",
                mostly=0.99)
        .expect("expect_image_format_to_match_metadata", column="bytes",
                mostly=0.99)
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
    )


def _suite_runs_at(cores: int, repeats: int) -> dict:
    """One session at `cores`: a warmup validation, then `repeats`
    timed validations of the suite compiled once (ges.compile_suite),
    the per-batch production shape. compile_s is reported separately.

    The warmup validates a 25% sample: the full scan shape (every row
    group read, every python worker started, footers cached) at a
    quarter of the decode cost. A limit() warmup plans one task and
    leaves the worker pool cold. Splits are pinned to the high scale
    level so every level runs the same task set.
    """
    import great_expectations_spark as ges

    spark = make_session(cores, split_cores=max(SCALE_LEVELS))
    try:
        df = spark.read.parquet(IMG_PATH)
        n = df.count()
        ges.validate(
            df.sample(fraction=0.25, seed=1),
            image_suite(),
            result_format="SUMMARY",
        )
        t_c = time.perf_counter()
        compiled = ges.compile_suite(
            image_suite(), df.schema, spark, result_format="SUMMARY"
        )
        compile_s = time.perf_counter() - t_c
        times, phases = [], []
        for _ in range(repeats):
            t0 = time.perf_counter()
            res = compiled.validate(df)
            times.append(time.perf_counter() - t0)
            phases.append(res.meta.get("phase_times"))
        return {
            "rows": n,
            "times": times,
            "phases": phases,
            "compile_s": round(compile_s, 3),
            "expectations": res.statistics["evaluated_expectations"],
        }
    finally:
        spark.stop()


def _suite_run_subprocess(cores: int) -> dict:
    """_suite_runs_at in a fresh python + JVM: sequential sessions in
    one driver JVM slow down (11 s -> 27 s over 6 sessions measured),
    so every scaling sample gets a clean process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--suite-run", str(cores)],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"suite-run subprocess (cores={cores}) rc={out.returncode}; "
            f"stderr tail: {out.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def main() -> None:
    import __spark_entry__ as entry
    from great_expectations_spark.data.images import write_images_table

    spark = make_session(CPUS)
    if not os.path.isdir(IMG_PATH):
        write_images_table(spark, IMG_PATH, n_rows=IMG_ROWS, seed=42)
    queries = {}
    for name, fn in entry.queries().items():
        fn(spark, SF_DIR).count()  # warm codegen and parquet footers
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        queries[name] = round(time.perf_counter() - t0, 3)
    spark.stop()

    lo, hi = SCALE_LEVELS
    pairs = []
    for _ in range(SCALE_REPEATS):
        runs = {c: _suite_run_subprocess(c) for c in SCALE_LEVELS}
        t_lo, t_hi = (min(runs[c]["times"]) for c in SCALE_LEVELS)
        pairs.append({
            "lo_sec": round(t_lo, 3),
            "hi_sec": round(t_hi, 3),
            "efficiency": round(t_lo / ((hi / lo) * t_hi), 3),
        })
    rows = runs[hi]["rows"]
    best = {lo: min(p["lo_sec"] for p in pairs),
            hi: min(p["hi_sec"] for p in pairs)}
    efficiency = round(statistics.median(p["efficiency"] for p in pairs), 3)
    print(json.dumps({
        "sf_dir": SF_DIR,
        "queries": queries,
        "queries_sec_total": round(sum(queries.values()), 2),
        "image_suite": {
            "rows": rows,
            "expectations": runs[hi]["expectations"],
            **{
                f"local{c}": {
                    "sec": round(best[c], 2),
                    "rows_per_sec": round(rows / best[c], 1),
                }
                for c in SCALE_LEVELS
            },
            "pairs": pairs,
            "scaling_efficiency": efficiency,
        },
    }))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--suite-run":
        # the low level gets one more sample: its runs are 4x longer,
        # so a mid-run slowdown contaminates its minimum more easily
        cores = int(sys.argv[2])
        if len(sys.argv) >= 4:
            reps = int(sys.argv[3])
        else:
            reps = 3 if cores == min(SCALE_LEVELS) else 2
        print(json.dumps(_suite_runs_at(cores, reps)))
    else:
        main()
