"""Fixture catalog: the driver-generated TPC-H-ish parquet tables.

Reference analog: the reference loads its table catalog once at startup
from ``information_schema.tables`` (/root/reference/src/cdc/mod.rs:30-47);
here the catalog is the fixed set of parquet fixtures plus Spark's own
catalog for registered views.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Dimension tables that stay broadcast-able at ANY scale factor (they are
#: bounded by the world, not by the data volume): always broadcast these in
#: joins so the fact-side scan never shuffles for them.
DIM_TABLES = {"region", "nation", "supplier"}


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (cached per file).

    Spark reads them as LongType under ``nanosAsLong``; we truncate to µs
    (integer div — double division would lose precision on epoch-ns
    int64s) to match DuckDB's read-time truncation.
    """
    if path in _NANOS_CACHE:
        return _NANOS_CACHE[path]
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    # a table may be one flat file (the driver fixtures) or a
    # directory of part files (how warehouse writers — including
    # scripts/make_scale_fixture.py and any Spark job — lay tables
    # out); parquet schemas are uniform within a table, so sniff the
    # first part
    schema_path = path
    if os.path.isdir(path):
        parts = sorted(
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise FileNotFoundError(
                f"no parquet part files under table directory {path}"
            )
        schema_path = os.path.join(path, parts[0])
    schema = pq.read_schema(schema_path)
    cols = [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    _NANOS_CACHE[path] = cols
    return cols


_NANOS_CACHE: dict[str, list[str]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY §2B S1). Columnar source → Catalyst gets
    predicate pushdown + column pruning for free; keep all filters/selects
    declarative so they reach the scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in _nanos_ts_columns(path):
        # only when Spark actually surfaced the ns column as a raw
        # long (the nanosAsLong read path). INT96-written files also
        # sniff as timestamp[ns] in pyarrow but Spark reads them as
        # proper timestamps — converting those would be a type error.
        if fields.get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    return df


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table wrapped in a broadcast hint."""
    df = table(spark, sf_dir, name)
    return F.broadcast(df) if name in DIM_TABLES else df


def spread_scan(df: DataFrame) -> DataFrame:
    """Repair input under-parallelism (guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").

    Row groups are the unit of parquet scan parallelism (SCALING.md
    §6i: byte-range splits cannot subdivide one), and the driver
    fixtures are single-row-group single files — so a scan-fed first
    stage (tokenize, explode, fingerprint, partial agg) otherwise runs
    as ONE task no matter how many cores the session has. When the
    frame's scan parallelism is below the session's default
    parallelism, redistribute ONCE (round-robin) right after the
    narrow projection; a warehouse-scale table (many files / row
    groups — SCALING.md §7.5's repartition-before-write rule) already
    scans at least as wide as the core count, so this is a no-op
    there. The decision derives from the ACTUAL layout vs the
    session's parallelism, never from a local constant, and filters /
    column pruning still pass through the round-robin exchange to the
    scan (PushedFilters/ReadSchema unchanged — pinned in plan lints).

    ONLY for order-exact downstreams (counts, min/max, distinct,
    integer/decimal sums, md5 keys, or anything already downstream of
    an exchange): round-robin placement varies with the core count,
    so a float aggregate computed directly over the scan with no
    intervening exchange must not ride this helper.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def eval_once(df: DataFrame, *cols) -> DataFrame:
    """Project ``cols`` behind a one-element ``explode(array(struct))``
    Generate barrier so a FILTER above the projection cannot be pushed
    below it (guide §4.4's duplicate-evaluation defect, with JVM
    expressions instead of a UDF): Catalyst pushes any deterministic
    filter through a Project with the alias SUBSTITUTED, so e.g.
    ``select(split(text).alias("toks")).filter(size("toks") >= n)``
    tokenizes every row TWICE — once inside the pushed
    ``size(split(text)) >= n`` predicate and again in the projection.
    Predicates referencing a generator's output cannot cross the
    Generate, so behind the barrier each projected expression is
    evaluated exactly once per row.

    Use ONLY when (a) a filter on a projected alias follows, and
    (b) the saved re-evaluation is strictly bigger than copying the
    projected row through the struct + Generate. That copy is NOT
    free: r14 A/B'd this barrier under the token-array projections of
    the gram family (q324/q339/q343/q143/q191 — filter(size(toks) >=
    n) above the tokenize) and REVERTED it there — copying the full
    token array through the barrier cost as much as the tokenize it
    saved (q343 per-round ratio median 1.17, rest at the noise
    floor; OPTIMIZATION_r14.md batch 6). It pays when the projection
    BUILDS something from a more expensive walk (cdc.apply's
    latest_changes key/row-map build from variant walks) or when the
    substituted predicate re-runs a full JSON parse (the v2 wal2json
    branch inlines the same barrier shape in cdc.pipeline)."""
    return df.select(
        F.explode(F.array(F.struct(*cols))).alias("_r")
    ).select("_r.*")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
