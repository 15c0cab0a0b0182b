"""Resumable checkpointed suite runs with per-partition lineage and
metrics tables.

Replaces the reference's Checkpoint orchestration
(checkpoint/checkpoint.py:95-410 — batch request + suite + action
list, no resumability) with the design the target architecture asks
for: a run pinned to an input snapshot, executed partition-group by
partition-group, whose per-group single-pass partials are durably
persisted as they complete — so a killed run resumes by recomputing
ONLY the groups without a completed state file, and the persisted
partials double as the run's metrics/lineage tables.

Layout under ``<state_dir>/run=<run_id>/``:

    batch.json            pinned input fingerprint (Iceberg snapshot
                          id when available, else a parquet file
                          listing hash) + suite hash
    groups/<g>.json       per-group partial stat rows + bounded
                          violation samples + timings (written
                          atomically: tmp + rename = commit marker)
    lineage.parquet       one row per (group, partition): status,
                          rows, duration — written at finalize
    metrics.parquet       one row per (group, stat_key, value)
    result.json           final table-level suite validation result

Compile and finalize are the in-process planner's
(plans/planner.SparkValidator): the suite compiles through its
_compile, and each row_condition domain runs through its
_validate_domain with this module's group grid as the domain's scan.
Execution per group = the engine's single-pass per-partition fused
agg (plans/single_pass.py) on the group's slice; partition pruning
applies when the group column is the table's physical partitioning.
The planner merges all groups' partials (Chan variance merge et al.)
into table-level stats, runs the global-only work ONCE (countDistinct
leftovers, the deferred z-score job, uniqueness, referential
anti-joins) and builds the EVRs; the result meta carries its
phase_times and decisions. This module keeps what is
checkpoint-specific: the pin, the delta, the group grid and its state
files, inheritance, and the outputs.

Incremental runs (``base_run_id=...``): the pin stores the full data
file listing (the parquet stand-in for an Iceberg snapshot manifest);
a new run diffs its listing against the base run's under an
append-only contract — any rewritten/removed base file fails loud,
exactly like Iceberg refuses incremental reads across
replace/overwrite snapshots. The heavy fused map/agg pass then scans
ONLY the appended files, its partials merge with the base run's
persisted partials (all of min/max/sum/count/mean/Chan-stddev and the
additive map-condition counts merge exactly), and only the
global-only finalize (exact distinct counts, uniqueness,
referential anti-joins, the deferred z-score count) re-reads the full
table — with column pruning, a few key columns rather than every
byte. At 100 TB with a ~1 TB daily append, the per-day validation
cost drops from a full-table scan to ~1% of bytes plus a narrow
pruned scan. Inherited partials are consolidated into the new run's
own state (``groups/__inherited*.json``), so chains of incremental
runs stay O(1) deep.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import time
from typing import Any, Dict, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.config import ExpectationSuite
from ..core.evaluation_parameters import resolve_validation_urn
from ..core.result import ExpectationSuiteValidationResult
from ..plans.planner import SparkValidator, single_pass_rows


def list_parquet_files(path: str) -> List[List[Any]]:
    """Sorted (relative path, size) listing of the data files under a
    path-based table — the parquet stand-in for an Iceberg snapshot's
    file manifest. Incremental runs diff two of these listings the way
    an Iceberg incremental append scan diffs two snapshots."""
    entries: List[List[Any]] = []
    for root, _, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            entries.append(
                [os.path.relpath(p, path), os.path.getsize(p)]
            )
    entries.sort()
    return entries


def fingerprint_parquet_dir(path: str) -> str:
    """Snapshot pin for a path-based table: hash of the sorted
    (relative path, size) listing. An Iceberg table would pin the
    snapshot id instead (sources/iceberg.py); for plain parquet this
    listing is the closest stable identity — any file added, removed
    or rewritten changes it."""
    entries = [tuple(e) for e in list_parquet_files(path)]
    h = hashlib.sha256(json.dumps(entries).encode())
    return h.hexdigest()[:16]


def _suite_hash(suite: ExpectationSuite) -> str:
    return hashlib.sha256(
        json.dumps(suite.to_json_dict(), sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _jsonable(v: Any) -> Any:
    """Round-trippable JSON boxing for partial values. Binary partials
    (Datasketches HLL sketches) are base64-boxed; merge_stat_rows
    unboxes either form, so in-process rows (raw bytes) and
    checkpoint-state rows (boxed) merge identically."""
    if isinstance(v, (bytes, bytearray)):
        return {"__b64__": base64.b64encode(bytes(v)).decode("ascii")}
    return v


def _atomic_write_json(path: str, obj: Any) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, default=str)
    os.replace(tmp, path)


class CheckpointRunner:
    """One resumable validation run of `suite` over `table_path`."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        suite: ExpectationSuite,
        state_dir: str,
        run_id: str,
        group_col: Optional[str] = None,
        result_format: Any = "SUMMARY",
        actions: Optional[List[Any]] = None,
        evaluation_parameters: Optional[Dict[str, Any]] = None,
        base_run_id: Optional[str] = None,
        max_concurrent_groups: int = 1,
    ):
        self.spark = spark
        self.table_path = table_path
        self.suite = suite
        self.state_dir = state_dir
        self.run_dir = os.path.join(state_dir, f"run={run_id}")
        self.groups_dir = os.path.join(self.run_dir, "groups")
        self.run_id = run_id
        self.group_col = group_col
        self.result_format = result_format
        self.actions = list(actions or [])
        self.evaluation_parameters = dict(evaluation_parameters or {})
        # incremental mode: validate only the files appended since
        # `base_run_id` completed, inheriting that run's persisted
        # mergeable partials (see run() for the full contract)
        self.base_run_id = base_run_id
        # >1 submits independent per-group single-pass jobs from a
        # bounded driver thread pool (the reference's AsyncExecutor
        # shape, checkpoint/checkpoint.py:389-401, applied at the
        # group grain): one SparkSession takes concurrent job
        # submissions, so group k+1's scan runs while group k's
        # taper/driver phases would otherwise idle the cluster.
        # State files stay atomic per group, so resume semantics are
        # unchanged.
        self.max_concurrent_groups = max(1, int(max_concurrent_groups))
        os.makedirs(self.groups_dir, exist_ok=True)

    # -- plumbing -------------------------------------------------------------

    def _df(self) -> DataFrame:
        return self.spark.read.parquet(self.table_path)

    def _grid_df(self, df: DataFrame, pinned: Dict[str, Any]) -> DataFrame:
        """The DataFrame the per-group partial grid scans: the full
        table for a normal run, ONLY the appended files for an
        incremental run. The heavy fused map/agg pass (every column,
        every map condition) therefore touches just the delta bytes;
        the full table is read only by the global-only finalize work
        (exact distinct / uniqueness / referential / the deferred
        z-score pass), all of which scan a handful of pruned columns."""
        if pinned.get("base_run_id") is None:
            return df
        delta = pinned.get("delta_files") or []
        if not delta:
            return self.spark.createDataFrame([], df.schema)
        paths = [os.path.join(self.table_path, rel) for rel, _ in delta]
        # basePath keeps hive-style partition columns (fmt=jpeg/...)
        # in the schema when leaf files are read directly
        gdf = self.spark.read.option(
            "basePath", self.table_path
        ).parquet(*paths)
        if [(f.name, f.dataType) for f in gdf.schema] != [
            (f.name, f.dataType) for f in df.schema
        ]:
            raise RuntimeError(
                "appended files changed the table schema; partial "
                "layouts are incompatible — run a full checkpoint"
            )
        return gdf

    def _pin_batch(self, df: DataFrame) -> Dict[str, Any]:
        """Record (or verify) the input snapshot + suite identity.

        The pin carries the full data-file listing (the parquet
        manifest stand-in) and a schema fingerprint; an incremental
        run additionally records its base run and the exact file
        delta it validated, so a resumed incremental run replays the
        identical delta."""
        entries = list_parquet_files(self.table_path)
        fp = fingerprint_parquet_dir(self.table_path)
        sh = _suite_hash(self.suite)
        schema_fp = hashlib.sha256(
            df.schema.json().encode()
        ).hexdigest()[:16]
        pin_path = os.path.join(self.run_dir, "batch.json")
        if os.path.exists(pin_path):
            with open(pin_path) as f:
                pinned = json.load(f)
            if pinned["fingerprint"] != fp:
                raise RuntimeError(
                    f"input snapshot changed under run {self.run_id!r}: "
                    f"pinned {pinned['fingerprint']} != current {fp}; "
                    "start a new run_id (a resumed run must see the "
                    "exact batch it started on)"
                )
            if pinned["suite_hash"] != sh:
                raise RuntimeError(
                    f"suite changed under run {self.run_id!r}; "
                    "start a new run_id"
                )
            return pinned
        pinned = {
            "fingerprint": fp,
            "suite_hash": sh,
            "schema_fp": schema_fp,
            "table_path": self.table_path,
            "kind": "parquet_listing",
            "files": entries,
            "pinned_at": time.time(),
        }
        if self.base_run_id is not None:
            pinned["base_run_id"] = self.base_run_id
            pinned["delta_files"] = self._compute_delta(
                entries, sh, schema_fp
            )
        _atomic_write_json(pin_path, pinned)
        return pinned

    def _base_dir(self) -> str:
        return os.path.join(self.state_dir, f"run={self.base_run_id}")

    def _compute_delta(
        self, entries: List[List[Any]], suite_hash: str,
        schema_fp: str,
    ) -> List[List[Any]]:
        """Diff the current file listing against the base run's pinned
        listing under the append-only contract (the parquet analogue of
        an Iceberg incremental APPEND scan between two snapshots): every
        base file must still exist byte-identical in size; the delta is
        exactly the files the base never saw. Any rewrite, delete or
        compaction voids the contract — fail loud and require a full
        run, exactly like Iceberg refuses incremental reads across
        replace/overwrite snapshots."""
        base_pin_path = os.path.join(self._base_dir(), "batch.json")
        if not os.path.exists(base_pin_path):
            raise RuntimeError(
                f"incremental base run {self.base_run_id!r} has no "
                f"batch.json under {self.state_dir!r}"
            )
        with open(base_pin_path) as f:
            base_pin = json.load(f)
        if "files" not in base_pin:
            raise RuntimeError(
                f"base run {self.base_run_id!r} predates file-listing "
                "pins; run one full checkpoint to establish a base"
            )
        if base_pin["suite_hash"] != suite_hash:
            raise RuntimeError(
                "incremental run requires the identical suite as its "
                f"base: base {base_pin['suite_hash']} != "
                f"current {suite_hash}"
            )
        if base_pin.get("schema_fp") != schema_fp:
            # partial alias layouts (p0..pn) are a function of suite
            # AND schema; a drifted schema silently misaligns them
            raise RuntimeError(
                "table schema differs from the base run's; partial "
                "layouts are incompatible — run a full checkpoint"
            )
        base_result_path = os.path.join(
            self._base_dir(), "result.json"
        )
        if not os.path.exists(base_result_path):
            raise RuntimeError(
                f"base run {self.base_run_id!r} did not complete "
                "(no result.json); resume it before building on it"
            )
        with open(base_result_path) as f:
            base_meta = json.load(f).get("meta") or {}
        if base_meta.get("groups_failed"):
            # a base that finished WITH failed domains has no state
            # files for those domains' tags — inheriting from it would
            # silently merge EMPTY partials and report delta-only
            # stats as full-table results for the failed domains
            raise RuntimeError(
                f"base run {self.base_run_id!r} completed with "
                f"{base_meta['groups_failed']} failed group(s); its "
                "partials are incomplete — re-run the base to green "
                "before building an incremental run on it"
            )
        current = {rel: size for rel, size in entries}
        violations = [
            rel
            for rel, size in base_pin["files"]
            if current.get(rel) != size
        ]
        if violations:
            raise RuntimeError(
                "append-only contract violated — base files rewritten "
                f"or removed: {violations[:5]}"
                f"{'...' if len(violations) > 5 else ''}; "
                "run a full (non-incremental) checkpoint"
            )
        base_files = {rel for rel, _ in base_pin["files"]}
        return [e for e in entries if e[0] not in base_files]

    def _groups(self, df: DataFrame) -> List[Any]:
        if self.group_col is None:
            return ["__all__"]
        rows = df.select(self.group_col).distinct().collect()
        # None-safe ordering: a NULL group sorts first; mixing None
        # with strings in plain sorted() raises TypeError
        return sorted(
            (r[0] for r in rows), key=lambda v: (v is not None, str(v))
        )

    def _group_path(self, group: Any, tag: str = "") -> str:
        """Injective file naming: NULL -> __null__; every literal
        value is percent-encoded and prefixed with "v" so a literal
        string "__null__" (or values differing only in characters
        the filesystem rejects) can never collide with another
        group's state file."""
        import urllib.parse

        if group is None:
            safe = "__null__"
        else:
            safe = "v" + urllib.parse.quote(str(group), safe="")
        return os.path.join(self.groups_dir, f"{safe}{tag}.json")

    # -- per-group work -------------------------------------------------------

    def _run_group(
        self, df: DataFrame, group: Any, plan, tag: str, n_parts: int,
    ) -> Dict[str, Any]:
        t0 = time.perf_counter()
        if self.group_col is None:
            gdf = df
        elif group is None:
            # NULL groups must be filtered with isNull: col == lit(None)
            # matches no row, silently dropping them from every count
            gdf = df.where(F.col(self.group_col).isNull())
        else:
            gdf = df.where(F.col(self.group_col) == F.lit(group))
        rows = single_pass_rows(
            gdf, plan.partials, plan.merges, plan.violation_exprs,
            plan.caps, n_parts,
        )
        out = {
            "group": group if not tag else f"{group}{tag}",
            "tag": tag,
            "status": "done",
            "duration_s": round(time.perf_counter() - t0, 3),
            "finished_at": time.time(),
            "partition_rows": [
                {k: _jsonable(r[k]) for k in r.asDict()} for r in rows
            ],
        }
        _atomic_write_json(self._group_path(group, tag), out)
        return out

    def _inherited_state(self, tag: str) -> Dict[str, Any]:
        """Materialize the base run's mergeable partials for one
        domain tag into THIS run's state. Chained incremental runs
        therefore flatten — run N+1 reads run N's single consolidated
        file (which already folded N-1, N-2, ...), never walking the
        chain. Committed atomically like any group file, so a resumed
        incremental run reuses it without touching the base."""
        path = os.path.join(self.groups_dir, f"__inherited{tag}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        rows: List[Dict[str, Any]] = []
        matched = 0
        base_groups = os.path.join(self._base_dir(), "groups")
        for fn in sorted(os.listdir(base_groups)):
            if not fn.endswith(".json") or fn.endswith(".tmp"):
                continue
            with open(os.path.join(base_groups, fn)) as f:
                gs = json.load(f)
            if gs.get("tag") is None:
                raise RuntimeError(
                    f"base run {self.base_run_id!r} group state "
                    "predates the incremental format; run one full "
                    "checkpoint to establish a base"
                )
            if gs["tag"] != tag:
                continue
            matched += 1
            rows.extend(gs["partition_rows"])
        if matched == 0:
            # suite_hash equality guarantees the base run planned the
            # SAME domains, so zero matching state files means the
            # domain failed (or was never executed) in the base —
            # inheriting nothing would silently pass off delta-only
            # stats as full-table results for this domain. One
            # legitimate zero-file case exists: a grouped base over an
            # EMPTY table enumerates zero groups (groups_total == 0,
            # green), and inheriting zero rows is then exactly right
            # (delta == full table).
            with open(
                os.path.join(self._base_dir(), "result.json")
            ) as f:
                base_meta = json.load(f).get("meta") or {}
            if base_meta.get("groups_total", -1) != 0:
                raise RuntimeError(
                    f"base run {self.base_run_id!r} has no group state "
                    f"for domain tag {tag or '<no row_condition>'!r}; "
                    "the domain did not complete in the base — run a "
                    "full (non-incremental) checkpoint"
                )
        state = {
            "group": "__inherited",
            "tag": tag,
            "status": "inherited",
            "base_run_id": self.base_run_id,
            "duration_s": 0.0,
            "finished_at": time.time(),
            "partition_rows": rows,
        }
        _atomic_write_json(path, state)
        return state

    # -- the run --------------------------------------------------------------

    def run(self) -> ExpectationSuiteValidationResult:
        df = self._df()
        pinned = self._pin_batch(df)
        # a resumed run's pin is authoritative (so resuming an
        # incremental run without re-passing base_run_id still
        # replays the pinned delta, and vice versa)
        self.base_run_id = pinned.get("base_run_id")
        incremental = self.base_run_id is not None
        grid = self._grid_df(df, pinned)
        validator = SparkValidator(
            df, self.suite, result_format=self.result_format,
            evaluation_parameters=self.evaluation_parameters,
        )
        # URN parameters (urn:great_expectations:validations:<suite>:
        # <metric>) resolve against THIS checkpoint store's persisted
        # run results — cross-suite gating (suite B's threshold from
        # suite A's stored metric)
        exc_entries, domains = validator._clock(
            "compile",
            lambda: validator._compile(
                df.schema,
                urn_resolver=lambda u: resolve_validation_urn(
                    u, self.state_dir
                ),
            ),
        )
        evrs = validator._compile_errors(exc_entries)
        # the group grid enumerates only what the partial pass will
        # scan: the whole table normally, just the delta incrementally
        # (groups seen only by the base are covered by its inherited
        # partials — their state needs no recomputation)
        groups = self._groups(grid)
        # partition count is identical for every group/domain (filters
        # preserve partitioning) — compute the RDD conversion ONCE per
        # run instead of once per group per domain
        n_parts = grid.rdd.getNumPartitions()
        group_states: List[Dict[str, Any]] = []
        computed, resumed, failed_groups = 0, 0, 0
        # each row_condition domain gets its own checkpointed group
        # grid; state files for non-empty domains carry a content-hash
        # tag so a resumed run maps identical domains to identical files
        for dom in sorted(domains, key=lambda d: (d.rc, d.parser)):
            tag = (
                ""
                if not dom.rc
                else "__d"
                + hashlib.sha256(
                    f"{dom.rc}|{dom.parser}".encode()
                ).hexdigest()[:8]
            )
            grid_out: Dict[str, Any] = {}
            scan = self._grid_scan(
                dom, tag, groups, n_parts,
                grid if incremental else None, grid_out,
            )
            if not validator._run_domain(dom, evrs, scan=scan):
                failed_groups += len(groups)
            elif grid_out:  # a domain of schema checks only has no grid
                group_states.extend(grid_out["states"])
                computed += grid_out["computed"]
                resumed += len(groups) - grid_out["computed"]

        # The result meta carries a SLIM pin — fingerprint + counts,
        # never the file listing. batch.json keeps the full manifest;
        # at 10^12-row scale the listing is ~10^6 entries, and
        # embedding it verbatim would bloat every result.json and
        # every in-memory result, and resolve_validation_urn
        # json-loads each stored run's result.json, so URN resolution
        # would degrade with every run.
        slim_pin = {
            k: pinned[k]
            for k in (
                "fingerprint", "suite_hash", "schema_fp",
                "table_path", "kind", "pinned_at",
            )
            if k in pinned
        }
        slim_pin["files_count"] = len(pinned.get("files") or [])
        if "delta_files" in pinned:
            slim_pin["delta_files_count"] = len(
                pinned["delta_files"] or []
            )
        if "base_run_id" in pinned:
            slim_pin["base_run_id"] = pinned["base_run_id"]
        meta = {
            "run_id": self.run_id,
            "batch": slim_pin,
            "groups_total": computed + resumed + failed_groups,
            "groups_computed": computed,
            "groups_resumed": resumed,
            "groups_failed": failed_groups,
            "engine": "great_expectations_spark.checkpoint",
        }
        if incremental:
            meta["incremental"] = {
                "base_run_id": self.base_run_id,
                "files_total": len(pinned.get("files") or []),
                "files_delta": len(pinned.get("delta_files") or []),
            }
        result = validator._suite_result(evrs, **meta)
        self._write_outputs(group_states, result)
        if self.actions:
            from .actions import run_actions

            result.meta["actions_results"] = run_actions(
                self.actions, result, self
            )
        return result

    def _grid_scan(self, dom, tag, groups, n_parts, delta, result):
        """One domain's scan for the planner's finalize
        (SparkValidator._validate_domain): its single-pass partition
        rows from the resumable group grid. A group with a committed
        state file is read back, never recomputed; missing groups run
        inline, or through run_validations' bounded thread pool when
        max_concurrent_groups > 1. Rows come inherited first, then
        each group in grid order.

        Incremental mode: ``delta`` (the appended files only) feeds
        the group grid while the planner's ``df`` stays the FULL
        domain — the base run's inherited partials make the merged
        stats describe the whole table, and every global-only step
        (leftover exact aggregates, the deferred z-score job, job
        checks) scans the full input with column pruning. The
        returned partition count is then None: the grid is not the
        frame the deferred job scans. ``result`` receives the group
        states and the number of groups computed."""

        def scan(df, plan):
            states = []
            if delta is not None:
                states.append(self._inherited_state(tag))
                df = delta.where(dom.cond) if dom.cond is not None else delta
            by_group: Dict[int, Dict[str, Any]] = {}
            to_compute: List[int] = []
            for gi, g in enumerate(groups):
                gp = self._group_path(g, tag)
                if os.path.exists(gp):
                    with open(gp) as f:
                        by_group[gi] = json.load(f)
                else:
                    to_compute.append(gi)

            def _compute(gi):
                return lambda: self._run_group(
                    df, groups[gi], plan, tag, n_parts
                )

            if self.max_concurrent_groups == 1:
                # inline path FAILS FAST: the first group error aborts
                # the domain immediately (the pool path below would
                # complete every remaining group's scan before raising
                # — on a persistent storage error that is N-1 doomed
                # full scans)
                for gi in to_compute:
                    by_group[gi] = _compute(gi)()
            elif to_compute:
                from .concurrent import run_validations

                outs = run_validations(
                    [_compute(gi) for gi in to_compute],
                    max_concurrency=self.max_concurrent_groups,
                    spark=self.spark,
                    pool_prefix=f"ges-group{tag}",
                )
                for gi, out in zip(to_compute, outs):
                    if isinstance(out, Exception):
                        raise out
                    by_group[gi] = out
            states.extend(by_group[gi] for gi in range(len(groups)))
            result.update(states=states, computed=len(to_compute))
            rows = [r for gs in states for r in gs["partition_rows"]]
            return rows, (n_parts if delta is None else None)

        return scan

    # -- durable outputs ------------------------------------------------------

    def _write_outputs(self, group_states, result) -> None:
        lineage_rows = []
        metric_rows = []
        for gs in group_states:
            g = str(gs["group"])
            for pr in gs["partition_rows"]:
                # p0 is always table.row_count's partial (insertion
                # order of collect_agg_exprs), but find it robustly
                for k, v in pr.items():
                    if isinstance(v, (int, float)) and not isinstance(
                        v, bool
                    ):
                        metric_rows.append(
                            (
                                self.run_id,
                                g,
                                int(pr.get("__pid", -1)),
                                k,
                                float(v),
                            )
                        )
            lineage_rows.append(
                (
                    self.run_id,
                    g,
                    gs["status"],
                    len(gs["partition_rows"]),
                    float(gs["duration_s"]),
                    float(gs["finished_at"]),
                )
            )
        # a few rows per group: written on the driver, no Spark job
        self._write_parquet("lineage.parquet", lineage_rows, [
            ("run_id", pa.string()), ("group", pa.string()),
            ("status", pa.string()), ("n_partitions", pa.int32()),
            ("duration_s", pa.float64()), ("finished_at", pa.float64()),
        ])
        if metric_rows:
            self._write_parquet("metrics.parquet", metric_rows, [
                ("run_id", pa.string()), ("group", pa.string()),
                ("partition_id", pa.int32()), ("metric", pa.string()),
                ("value", pa.float64()),
            ])
        _atomic_write_json(
            os.path.join(self.run_dir, "result.json"),
            result.to_json_dict(),
        )

    def _write_parquet(self, name: str, rows, fields) -> None:
        """Replace the parquet dataset directory ``<run_dir>/<name>``
        with one file holding ``rows`` (a Spark-readable table)."""
        import pyarrow.parquet as pq  # ~6 ms the package import skips

        out = os.path.join(self.run_dir, name)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        table = pa.Table.from_pylist(
            [dict(zip((f for f, _ in fields), r)) for r in rows],
            schema=pa.schema(fields),
        )
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
