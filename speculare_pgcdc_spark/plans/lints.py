"""Helpers that read a DataFrame's physical plan and extract the
properties worth asserting. Text-based (the executedPlan string is the
stable public surface Spark itself prints for .explain)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """Initial physical plan (pre-AQE finalization — the static choices:
    pushdown, pruning, join strategy, partial aggregation)."""
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan_string(df: DataFrame) -> str:
    """Optimized logical plan: names the relation each leaf reads
    (LocalRelation: rows held in the plan itself; LogicalRDD: a
    parallelized RDD whose rows come from Python)."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters content across the plan's file scans
    (raw text; assert with substring checks — filter expressions contain
    commas). Requires spark.sql.maxMetadataStringLength large enough
    that the plan string is not truncated (set in session.get_spark)."""
    return "; ".join(
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df))
    )


def read_schemas(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning check)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        cols = {
            c.split(":")[0].strip()
            for c in m.group(1).split(",")
            if c.strip()
        }
        out.append(cols)
    return out


def exchange_count(df: DataFrame, kind: str = "hashpartitioning") -> int:
    """Number of shuffle exchanges of a given partitioning kind."""
    return len(
        re.findall(rf"Exchange {kind}", plan_string(df))
    )


def broadcast_hash_join_count(df: DataFrame) -> int:
    return plan_string(df).count("BroadcastHashJoin")


def has_python_eval(df: DataFrame) -> bool:
    """True if any row crosses into Python (Batch/ArrowEvalPython,
    mapInPandas, applyInPandas...) — forbidden on declared JVM-only
    pipelines."""
    p = plan_string(df)
    return any(
        t in p
        for t in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
        )
    )
