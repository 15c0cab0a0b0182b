"""Closed-loop benchmark of the suite engine: one client, one op at a
time, Spark at local[2] with the library's default session behaviour.

    python3 perfbench/run.py --workload image-suite --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object {correct, attempted, failed, metrics}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Per-op series, spans and the layer table of every run are written to
.perfbench_cache/runs/. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()  # process start, before any heavy import

import os  # noqa: E402

# one BLAS/OpenMP thread per process, set before numpy is first imported
# (Python workers inherit it through the JVM)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ[_v] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, stats  # noqa: E402
from perfbench.inputs import Inputs  # noqa: E402
from perfbench.probes import (  # noqa: E402
    KINDS,
    PeakRss,
    ProcessTree,
    SparkStatus,
    host_steal_jiffies,
    stage_totals,
    wait_gone,
)
from perfbench.workloads import WORKLOADS, SuiteWorkload  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
MASTER = "local[2]"
# warm-up ops before the timed window (about 12 s each), by count so
# that every run times the same point of the JIT's warm-up curve: op
# wall time falls most over them, JVM CPU per op still falls slowly
WARMUP_OPS = {"image-suite": 10, "zscore-suite": 6}


def hygiene(work: str) -> list:
    """No engine knobs, temp files in the checkout. Returns the
    SPARK_GRAFT_* variables removed from the environment so that
    neither the JVM nor the workers see them."""
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in knobs:
        del os.environ[k]
    if knobs:
        print(f"perfbench: ignoring {', '.join(knobs)}", file=sys.stderr)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return knobs


def start_spark(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(MASTER)
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then close the JVM's stdin (it exits on EOF)
    and wait for it, so no process outlives the run."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def decode_us_per_row(payloads) -> float:
    """codec.decode_image + phash64 over a fixed payload sample,
    median of three passes, in microseconds per row."""
    from great_expectations_spark.payload.codec import decode_image, phash64

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for b in payloads:
            try:
                decode_image(b)
                phash64(b)
            except ValueError:
                pass
        runs.append((time.perf_counter() - t0) / len(payloads) * 1e6)
    return stats.median(runs)


class Bench:
    """One run: setup, warm-up, timed window; per-op records."""

    def __init__(self, args, wl, tree, status):
        self.args = args
        self.wl = wl
        self.tree = tree
        self.status = status  # SparkStatus when tracing, else None
        self.ops = []
        self.spans = []

    def run_op(self, i: int, phase: str, traced: bool, out=None) -> None:
        """Run op i (or record the setup verdict `out` as op 0)."""
        rec = {"i": i, "phase": phase, "traced": traced}
        err = None
        if out is None:
            cpu0, _ = self.tree.sample()
            t0 = time.time()
            p0 = time.perf_counter()
            try:
                out = self.wl.op()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                err = f"raised {exc!r}"
            p1 = time.perf_counter()
            t1 = time.time()
            cpu1, _ = self.tree.sample()
            rec.update(
                start=t0, end=t1, wall_ms=(p1 - p0) * 1e3,
                cpu_ms={k: (cpu1[k] - cpu0[k]) * 1e3 for k in KINDS},
            )
        bad = [err] if err else self.wl.check(out)
        rec["ok"] = not bad
        rec["errors"] = bad[:5]
        if out is not None and "wall_ms" in rec:
            rec["counters"] = self.wl.counters(out)
            if traced:
                rec["counters"].update(self.trace(rec))
        self.ops.append(rec)

    def trace(self, rec: dict) -> dict:
        """Spans and Spark counters of one op from the status store,
        read after the op's timer stopped."""
        t0_ms, t1_ms = rec["start"] * 1e3, rec["end"] * 1e3
        jobs = stats.jobs_in_window(self.status.jobs(), t0_ms - 1, t1_ms + 1)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = self.status.stages(stage_ids)
        c = stage_totals(stages)
        op_id = f"op{rec['i']}"
        job_iv = [
            (j["submissionTime"], j.get("completionTime") or t1_ms) for j in jobs
        ]
        busy = stats.union_length(job_iv, t0_ms, t1_ms)
        self.spans.append({
            "id": op_id, "parent": None, "op": op_id, "name": f"op:{self.args.workload}",
            "start_ms": t0_ms, "end_ms": t1_ms,
            "self_ms": stats.self_time(t0_ms, t1_ms, job_iv),
            "cpu_ms": rec["cpu_ms"],
        })
        by_stage = {s["stageId"]: s for s in stages}
        for j, (s, e) in zip(jobs, job_iv):
            st_iv = [
                (by_stage[x]["submissionTime"], by_stage[x].get("completionTime") or e)
                for x in j["stageIds"]
                if x in by_stage and by_stage[x].get("submissionTime")
            ]
            self.spans.append({
                "id": f"{op_id}/job{j['jobId']}", "parent": op_id, "op": op_id,
                "name": j.get("name"), "start_ms": s, "end_ms": e,
                "self_ms": stats.self_time(s, e, st_iv), "stages": j["stageIds"],
            })
        wall = rec["wall_ms"]
        cpu = rec["cpu_ms"]
        c.update({
            "spark.jobs": float(len(jobs)),
            "spark.job_busy_ms": busy,
            "spark.cluster_idle_ms": wall - busy,
            "spark.input_records_per_row": c["spark.input_records"] / self.wl.rows,
            "cpu.driver_ms": cpu["driver"],
            "cpu.jvm_ms": cpu["jvm"],
            "cpu.pyworker_ms": cpu["pyworker"],
            "cpu.jvm_nontask_ms": cpu["jvm"] - c["spark.executor_cpu_ms"],
        })
        return c

    def layers(self, work: str) -> dict:
        """The checkpoint and query layers, once each; their calls
        are added to the run's op records."""
        ck, ck_ops = layers.checkpoint(self.wl.spark, self.status, self.wl.inp,
                                       self.wl.suite, self.wl.zscore, work)
        q, q_ops = layers.queries(self.wl.spark, self.status, self.wl.inp)
        self.ops.extend(ck_ops + q_ops)
        units = {**layers.CHECKPOINT_METRICS, **layers.QUERY_METRICS}
        return {k: (v, units[k]) for k, v in {**ck, **q}.items()}

    def loop(self, phase: str, seconds: float, min_ops: int, start_i: int) -> int:
        """Ops until `seconds` of wall time and `min_ops` ops have
        passed; traced runs trace every second op of the window."""
        i = start_i
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_ops or time.perf_counter() < t_end:
            traced = self.status is not None and phase == "timed" and n % 2 == 1
            self.run_op(i, phase, traced)
            i += 1
            n += 1
        return i


def summarize(b: Bench, setup_s: float, peak_rss: float, extra: dict) -> dict:
    timed = [o for o in b.ops if o["phase"] == "timed" and "wall_ms" in o]
    walls = [o["wall_ms"] for o in timed]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.median(walls), "ms"),
        "ops_per_min": (60_000.0 * len(walls) / sum(walls), "1/min"),
        "cpu_ms_per_op": (
            stats.median([sum(o["cpu_ms"].values()) for o in timed]), "ms"
        ),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    if not b.args.trace:
        return e2e
    traced = [o for o in timed if o["traced"] and "counters" in o]
    untraced = [o for o in timed if not o["traced"]]
    layer = {}
    for name, unit in LAYER_UNITS.items():
        vals = [o["counters"][name] for o in traced if name in o["counters"]]
        if vals:
            layer[name] = (stats.median(vals), unit)
        else:
            layer[name] = (0.0, unit)
    unclocked = [
        o["wall_ms"] - sum(o["counters"].get(f"plans.{p}_ms", 0.0)
                           for p in PLAN_PHASES)
        for o in traced
    ]
    tail_v, tail_p, tail_n = stats.tail(walls)
    layer.update({
        "plans.compile_ms": (b.wl.compile_ms, "ms"),
        "plans.unclocked_ms": (stats.median(unclocked), "ms"),
        "op.tail_ms": (tail_v, "ms"),
        "op.tail_pct": (tail_p, "%"),
        "op.tail_n": (float(tail_n), "count"),
        "tracing.overhead_pct": (
            100.0 * (stats.median([o["wall_ms"] for o in traced])
                     / stats.median([o["wall_ms"] for o in untraced]) - 1.0),
            "%",
        ),
    })
    layer.update(extra)
    return layer


PLAN_PHASES = ("single_pass", "fused_agg", "harvest", "leftover_join", "job_checks")
# per-op counters reported as the median over traced ops
LAYER_UNITS = {
    **{f"plans.{p}_ms": "ms" for p in PLAN_PHASES},
    "cpu.driver_ms": "ms", "cpu.jvm_ms": "ms", "cpu.pyworker_ms": "ms",
    "cpu.jvm_nontask_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_records": "count", "spark.input_bytes": "B",
    "spark.input_records_per_row": "ratio",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.peak_exec_mem_bytes": "B",
    "spark.job_busy_ms": "ms", "spark.cluster_idle_ms": "ms",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "great_expectations_spark", "__init__.py")):
        print("perfbench: great_expectations_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(CACHE, f"work-{os.getpid()}")
    knobs = hygiene(work)
    t_in = time.perf_counter()
    inp = Inputs(os.path.join(CACHE, "inputs"), args.seed).ensure()
    inputs_s = time.perf_counter() - t_in

    steal0 = host_steal_jiffies()
    tree = ProcessTree()
    rss = PeakRss(tree).start()
    spark = None
    try:
        spark = start_spark(work)
        status = SparkStatus(spark) if args.trace else None
        wl = SuiteWorkload(args.workload, spark, inp)
        b = Bench(args, wl, tree, status)
        first = wl.setup()
        setup_s = time.perf_counter() - T_START - inputs_s
        b.run_op(0, "setup", False, out=first)
        i = b.loop("warmup", 0.0, WARMUP_OPS[args.workload], 1)
        b.loop("timed", args.seconds, 2 if args.trace else 1, i)
        steal = float(host_steal_jiffies() - steal0)
        extra = {}
        if args.trace:
            extra = {
                "payload.decode_us_per_row": (decode_us_per_row(inp.payload_sample()), "us"),
                "host.steal_jiffies": (steal, "count"),
            }
            extra.update(b.layers(work))
    finally:
        peak = rss.stop()
        if spark is not None:
            started = tree.descendants()
            stop_spark(spark)
            wait_gone(started)
        shutil.rmtree(work, ignore_errors=True)
    metrics = summarize(b, setup_s, peak, extra)
    failed = sum(not o["ok"] for o in b.ops)

    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    run_file = os.path.join(
        CACHE, "runs",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
    )
    with open(run_file, "w") as f:
        json.dump({
            "args": vars(args), "master": MASTER, "knobs_removed": knobs,
            "inputs": {k: inp.manifest[k] for k in ("gen_s", "reference_s", "fingerprint")},
            "inputs_s": inputs_s, "setup_s": setup_s, "host_steal_jiffies": steal,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "ops": b.ops, "spans": b.spans,
        }, f, indent=1, default=str)

    for name, (v, unit) in metrics.items():
        print(f"{args.workload:18s} {name:32s} {v:16.4f} {unit}")
    print(f"{args.workload:18s} failed/attempted {failed}/{len(b.ops)}; run file {os.path.relpath(run_file, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(b.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
