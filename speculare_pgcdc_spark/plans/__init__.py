"""Physical-plan quality gates.

Correctness says the answer is right; these lints say the PLAN is the
one that survives 100x scale — filters reach the parquet scan, columns
are pruned, joins broadcast when a side is bounded, top-k never global
sorts, aggregation combines map-side, and hot pipelines stay JVM-side.
tests/test_plans.py pins these properties per headline query so a
refactor that silently de-optimizes a plan fails CI.
"""

from speculare_pgcdc_spark.plans.lints import (  # noqa: F401
    broadcast_hash_join_count,
    exchange_count,
    has_python_eval,
    optimized_plan_string,
    plan_string,
    pushed_filters,
    read_schemas,
)
