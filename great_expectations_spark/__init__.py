"""great_expectations_spark — a PySpark-native expectation-suite engine.

Brand-new Spark-first implementation of the validation semantics of
Great Expectations 0.15.39 (reference: tanelk/great_expectations).
Declarative constraint suites are compiled by a driver-side planner
into a minimal number of Spark jobs: one fused per-partition pass for
all per-column stats, map-condition counts and bounded violation
samples, one key count for uniqueness, and anti-joins for
referential integrity. See SURVEY.md for the full design rationale.
"""

from .core.config import (
    ExpectationConfiguration,
    ExpectationSuite,
    parse_result_format,
    suite,
)
from .core.result import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
)
from .checkpoint import CheckpointRunner, run_validations
from .context import DataContext
from .operators.registry import list_expectation_types
from .plans.planner import CompiledSuite, SparkValidator, compile_suite, validate
from .profile import profile_table, suite_from_baseline
from .functions import pyworker

# In a PySpark worker, stop each later task from re-reading every
# zip archive on sys.path (see functions/pyworker.py).
pyworker.install_in_worker()

__version__ = "0.1.0"

__all__ = [
    "CheckpointRunner",
    "CompiledSuite",
    "compile_suite",
    "DataContext",
    "ExpectationConfiguration",
    "ExpectationSuite",
    "ExpectationSuiteValidationResult",
    "ExpectationValidationResult",
    "SparkValidator",
    "list_expectation_types",
    "parse_result_format",
    "profile_table",
    "run_validations",
    "suite",
    "suite_from_baseline",
    "validate",
]
