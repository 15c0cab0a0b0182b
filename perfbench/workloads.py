"""The benchmark's workloads: what one op is, how it is set up, and
how its output is checked against the seed's reference answers."""

from __future__ import annotations

import math
import time
from typing import Any, Dict, List

from . import inputs as I

WORKLOADS = ("image-suite", "zscore-suite")
PHASES = ("single_pass", "fused_agg", "harvest", "leftover_join")


def image_suite(zscore: bool = False):
    """bench.py's flagship 13-expectation image suite; `zscore`
    appends the deferred z-score check that forces the classic plan."""
    import bench

    s = bench.image_suite()
    if zscore:
        s = s.expect("expect_column_value_z_scores_to_be_less_than",
                     column="w", threshold=I.Z_THRESHOLD)
    return s


def expected_results(ref: Dict[str, float], zscore: bool) -> List[Dict]:
    """Per-expectation expected outcome, in suite order. Success is
    derived from the reference counts with each check's `mostly`; the
    injected defect rates sit far from every threshold."""
    rows = ref["rows"]

    def mapped(unexpected: int, mostly: float = 1.0) -> Dict:
        return {
            "success": unexpected <= (1.0 - mostly) * rows + 1e-9,
            "unexpected_count": unexpected,
        }

    out = [
        {"success": True},
        mapped(ref["caption_null"], 0.99),
        mapped(ref["fmt_bad"], 0.99),
        mapped(ref["w_bad"]),
        mapped(ref["h_bad"]),
        mapped(ref["caption_len_bad"], 0.99),
        {"success": 8 <= ref["w_mean"] <= 40, "observed_value": ref["w_mean"]},
        {"success": 1 <= ref["fmt_distinct"] <= 10,
         "observed_value": ref["fmt_distinct"]},
        mapped(ref["dup_rows"], 0.99),
        mapped(ref["undecodable"], 0.99),
        mapped(ref["dims_bad"], 0.99),
        mapped(ref["fmt_mismatch"], 0.99),
        mapped(ref["phash_bad"], 0.95),
    ]
    if zscore:
        out.append(mapped(ref["z_bad"]))
    return out


def compare(result, expected: List[Dict]) -> List[str]:
    """Disagreements between a suite result and the expected outcome."""
    got = result.results
    if len(got) != len(expected):
        return [f"{len(got)} results, expected {len(expected)}"]
    bad = []
    for i, (evr, exp) in enumerate(zip(got, expected)):
        name = evr.expectation_config.expectation_type
        if evr.exception_info and evr.exception_info.get("raised_exception"):
            bad.append(f"#{i} {name} raised")
            continue
        if bool(evr.success) != exp["success"]:
            bad.append(f"#{i} {name} success={evr.success}")
        res = evr.result or {}
        if "unexpected_count" in exp and res.get("unexpected_count") != exp["unexpected_count"]:
            bad.append(
                f"#{i} {name} unexpected_count={res.get('unexpected_count')} "
                f"expected {exp['unexpected_count']}"
            )
        if "observed_value" in exp:
            ov = res.get("observed_value")
            if ov is None or not math.isclose(
                float(ov), exp["observed_value"], rel_tol=1e-9
            ):
                bad.append(f"#{i} {name} observed_value={ov}")
    return bad


class SuiteWorkload:
    """image-suite / zscore-suite: compile once, validate the seed's
    table repeatedly through CompiledSuite.validate."""

    def __init__(self, name: str, spark, inp: I.Inputs):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}")
        self.zscore = name == "zscore-suite"
        self.spark = spark
        self.inp = inp
        self.rows = inp.manifest["rows"]
        self.compile_ms = 0.0
        self.suite = image_suite(self.zscore)
        self.expected = expected_results(inp.manifest["reference"], self.zscore)

    def setup(self) -> Any:
        """Open the table, compile the suite and run the first (cold)
        op; returns the first verdict."""
        import great_expectations_spark as ges

        self.df = self.spark.read.parquet(self.inp.base)
        t0 = time.perf_counter()
        self.compiled = ges.compile_suite(self.suite, self.df.schema, self.spark)
        self.compile_ms = (time.perf_counter() - t0) * 1e3
        return self.op()

    def op(self) -> Any:
        """The timed call into the library's public API."""
        return self.compiled.validate(self.df)

    def check(self, out: Any) -> List[str]:
        """Disagreements with the reference (empty when correct)."""
        return compare(out, self.expected)

    def counters(self, out: Any) -> Dict[str, float]:
        """Per-phase wall times from the result's meta, in ms."""
        pt = out.meta.get("phase_times", {})
        c = {f"plans.{p}_ms": pt.get(p, 0.0) * 1e3 for p in PHASES}
        c["plans.job_checks_ms"] = sum(
            v for k, v in pt.items() if k.startswith("job:")
        ) * 1e3
        return c
