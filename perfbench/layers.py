"""Layers a traced run measures once, after its timed window: the
checkpoint write path (an incremental CheckpointRunner run over an
appended batch) and the shuffle-heavy dedup queries. Each call is
timed on its own, its Spark jobs are attributed by its wall window,
and its output is checked against the seed's reference."""

from __future__ import annotations

import os
import shutil
import time
from typing import Any, Callable, Dict, List, Tuple

from . import inputs as I
from . import stats
from .probes import SparkStatus, stage_totals
from .workloads import compare, expected_results

# (metric name, unit) of the checkpoint layer
CHECKPOINT_METRICS = {
    "checkpoint.run_ms": "ms",
    "checkpoint.state_bytes": "B",
    "checkpoint.files_written": "count",
    "checkpoint.groups_computed": "count",
    "spark.output_bytes": "B",
}
QUERY_METRICS = {
    **{f"query.{q}_ms": "ms" for q in I.QUERIES},
    **{f"query.{q}.stages": "count" for q in I.QUERIES},
}


class Call:
    """One timed call: its output or error, wall time and the Spark
    counters of the jobs submitted while it ran."""

    def __init__(self, status: SparkStatus, fn: Callable[[], Any]):
        self.out, self.error = None, None
        t0, p0 = time.time(), time.perf_counter()
        try:
            self.out = fn()
        except Exception as exc:  # noqa: BLE001 - a failed call is counted
            self.error = f"raised {exc!r}"
        self.wall_ms = (time.perf_counter() - p0) * 1e3
        jobs = stats.jobs_in_window(status.jobs(), t0 * 1e3 - 1, time.time() * 1e3 + 1)
        self.counters = stage_totals(
            status.stages(sorted({s for j in jobs for s in j["stageIds"]}))
        )
        self.counters["spark.jobs"] = float(len(jobs))

    def record(self, name: str, errors: List[str]) -> Dict:
        """The call as an op record of the run file."""
        return {"phase": "layer", "name": name, "wall_ms": self.wall_ms,
                "ok": not errors, "errors": errors[:5]}


def _tree_bytes(root: str) -> Tuple[int, int]:
    """(files, bytes) under root."""
    files = [os.path.join(d, f) for d, _, names in os.walk(root) for f in names]
    return len(files), sum(os.path.getsize(p) for p in files)


def checkpoint(spark, status: SparkStatus, inp: I.Inputs, suite, zscore: bool,
               work: str) -> Tuple[Dict[str, float], List[Dict]]:
    """A full CheckpointRunner(group_col="fmt") run over the base
    table (not timed), then the timed incremental run after the delta
    file is appended. Its verdict covers base and delta."""
    from great_expectations_spark.checkpoint.runner import CheckpointRunner

    table = os.path.join(work, "checkpoint-table")
    state = os.path.join(work, "checkpoint-state")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    shutil.copytree(inp.base, table)
    base = Call(status, CheckpointRunner(spark, table, suite, state,
                                         run_id="base", group_col="fmt").run)
    if base.error:
        return (dict.fromkeys(CHECKPOINT_METRICS, 0.0),
                [base.record("checkpoint-base", [base.error])])
    for name in os.listdir(inp.delta):
        shutil.copy(os.path.join(inp.delta, name), table)

    runner = CheckpointRunner(spark, table, suite, state, run_id="append",
                              group_col="fmt", base_run_id="base")
    call = Call(status, runner.run)
    if call.error:
        return (dict.fromkeys(CHECKPOINT_METRICS, 0.0),
                [call.record("checkpoint", [call.error])])
    expected = expected_results(inp.manifest["reference_appended"], zscore)
    rec = call.record("checkpoint", compare(call.out, expected))
    files, size = _tree_bytes(runner.run_dir)
    return {
        "checkpoint.run_ms": call.wall_ms,
        "checkpoint.state_bytes": float(size),
        "checkpoint.files_written": float(files),
        "checkpoint.groups_computed": float(call.out.meta["groups_computed"]),
        "spark.output_bytes": call.counters["spark.output_bytes"],
    }, [rec]


def queries(spark, status: SparkStatus, inp: I.Inputs) -> Tuple[Dict[str, float], List[Dict]]:
    """Each dedup query once, from building its DataFrame to the
    collected rows, compared with its oracle answer in the normal form
    of tools/check_oracle.py."""
    from great_expectations_spark import suite_queries
    from tools.check_oracle import norm_rows

    reg = suite_queries.registry()
    metrics: Dict[str, float] = {}
    records: List[Dict] = []
    for name in I.QUERIES:
        def run(fn=reg[name][0]):
            df = fn(spark, inp.docs)
            return norm_rows(df.columns, [tuple(r) for r in df.collect()])

        call = Call(status, run)
        metrics[f"query.{name}_ms"] = call.wall_ms
        metrics[f"query.{name}.stages"] = call.counters["spark.stages"]
        errors = [call.error] if call.error else []
        if not errors and call.out != inp.query_answers[name]:
            (cols, rows), (want_cols, want_rows) = call.out, inp.query_answers[name]
            errors.append(f"{cols} {len(rows)} rows, "
                          f"oracle {want_cols} {len(want_rows)} rows")
        records.append(call.record(f"query:{name}", errors))
    return metrics, records
