"""Deterministic wal2json feed derived from the ``events`` fixture table.

The reference's only test harness is scripts/test.sh (insert/update loops
watched by a human). Here the feed is generated FROM real fixture data so
the pipeline's output is oracle-checkable: DuckDB recomputes the expected
routed output straight from the events table (queries/cdc_q.py).

Mapping (pure column arithmetic — reproducible in SQL on both engines):
- kind:  event_id % 3 -> 0 insert, 1 update, 2 delete
- table: event_id % 11 == 0      -> '_hyper_9_<event_id%7>_chunk'
             (idx 9 unknown -> pins the fall-back-to-raw-name branch)
         user_id % 2 == 1        -> '_hyper_1_<event_id%7>_chunk' (-> events_a)
         else                    -> '_hyper_2_<event_id%7>_chunk' (-> events_b)
- insert/update rows carry columnnames [event_id, event_type, value] with
  event_id and value as JSON NUMBERS (pins the non-string-cell quirk) and
  event_type as a string.
- delete rows carry only oldkeys (pins the filtered-deletes-drop quirk).
- transactions: groups of 4 consecutive event_ids per message.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speculare_pgcdc_spark.catalog import table

#: hypertable lookup fixture (_timescaledb_catalog.hypertable analog)
HYPER_LOOKUP = [(1, "events_a"), (2, "events_b")]

#: the logical table catalog the subscriptions validate against
FEED_TABLES = ["events_a", "events_b"]


def lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(HYPER_LOOKUP, "idx int, table_name string")


#: per-(session, sf) persisted feed — the feed is INPUT to the CDC
#: pipeline; building it is test scaffolding, so it is constructed once
#: and cached rather than re-derived inside every pipeline run/bench.
_FEED_CACHE: dict = {}


def feed_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One wal2json transaction message (JSON string) per row: column
    ``payload``. Built entirely with JVM-side expressions; cached
    per-session (see _FEED_CACHE note)."""
    key = (id(spark._jsparkSession), sf_dir)
    cached = _FEED_CACHE.get(key)
    if cached is not None:
        return cached
    df = _build_feed(spark, sf_dir).persist()
    df.count()  # materialize once
    _FEED_CACHE[key] = df
    return df


def feed_messages_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wal2json format-2 twin of :func:`feed_messages`: ONE change per
    line (action/columns/identity framing), same deterministic mapping
    from the events fixture — so the v2 parse branch is checkable
    against the very same DuckDB oracle as q35."""
    key = (id(spark._jsparkSession), sf_dir, "v2")
    cached = _FEED_CACHE.get(key)
    if cached is not None:
        return cached
    df = _build_feed_v2(spark, sf_dir).persist()
    df.count()
    _FEED_CACHE[key] = df
    return df


def ensure_feed_hot(spark: SparkSession, sf_dir: str,
                    v2: bool = False) -> bool:
    """Re-assert the feed fixture's in-memory cache; returns True when
    the cache had been DROPPED and was rebuilt.

    The feed is input scaffolding (in production it arrives from the
    replication connection), so consumers that benchmark the pipeline
    over it — bench.py's cdc_events_per_s micro — are defined over a
    HOT feed. But the persist() made at first build is not durable
    state: a long session's storage churn (other persists, explicit or
    cascading unpersist, clearCache) can silently drop it, after which
    every pipeline run RECOMPUTES feed construction — measured 4.0s vs
    1.4s hot at sf0.1, i.e. the 83k -> 27k ev/s cliff in the round-7
    bench artifact. Calling this right before sampling makes the
    metric independent of cache history: re-persist if dropped, then
    one count() to pull any disk-evicted blocks back (a no-op when
    already hot)."""
    df = feed_messages_v2(spark, sf_dir) if v2 else feed_messages(
        spark, sf_dir)
    recached = not df.is_cached
    if recached:
        df.persist()
    df.count()
    return recached


def _chunk_table_col():
    return F.concat(
        F.lit("_hyper_"),
        F.when(F.col("event_id") % 11 == 0, F.lit("9"))
        .when(F.col("user_id") % 2 == 1, F.lit("1"))
        .otherwise(F.lit("2")),
        F.lit("_"),
        (F.col("event_id") % 7).cast("string"),
        F.lit("_chunk"),
    )


def _etype_json_literal():
    # JSON string literal (quoted + escaped) of event_type: to_json of a
    # 1-array, minus the brackets
    arr = F.to_json(F.array(F.col("event_type")))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def _value_json_literal():
    # non-finite doubles have no JSON literal; emit null
    return F.when(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf")),
        F.col("value").cast("string"),
    ).otherwise(F.lit("null"))


def _build_feed_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    action = (
        F.when(F.col("event_id") % 3 == 0, "I")
        .when(F.col("event_id") % 3 == 1, "U")
        .otherwise("D")
    )
    row_json = F.format_string(
        '{"action":"%s","schema":"public","table":"%s","columns":['
        '{"name":"event_id","type":"bigint","value":%s},'
        '{"name":"event_type","type":"text","value":%s},'
        '{"name":"value","type":"double precision","value":%s}]}',
        action,
        _chunk_table_col(),
        F.col("event_id").cast("string"),
        _etype_json_literal(),
        _value_json_literal(),
    )
    del_json = F.format_string(
        '{"action":"D","schema":"public","table":"%s","identity":['
        '{"name":"event_id","type":"bigint","value":%s}]}',
        _chunk_table_col(),
        F.col("event_id").cast("string"),
    )
    # one change per line means NO grouping shuffle on this path (v1's
    # groupBy repartitions as a side effect); without an explicit
    # repartition the persisted feed inherits the parquet scan's
    # partitioning — a single ~50 MB file at sf0.1 = ONE partition, and
    # every downstream parse stage runs on one core
    return e.select(
        F.when(action == "D", del_json).otherwise(row_json).alias("payload")
    ).repartition(spark.sparkContext.defaultParallelism)


def _build_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    chunk_table = _chunk_table_col()
    kind = (
        F.when(F.col("event_id") % 3 == 0, "insert")
        .when(F.col("event_id") % 3 == 1, "update")
        .otherwise("delete")
    )
    # event_type goes through to_json so quotes/backslashes in fixture
    # content are escaped (format_string would emit a malformed frame
    # that try_parse_json silently drops, skewing the oracle); non-
    # finite doubles likewise become JSON null, not "NaN"
    etype_lit = _etype_json_literal()
    val_lit = _value_json_literal()
    row_json = F.format_string(
        '{"kind":"%s","table":"%s",'
        '"columnnames":["event_id","event_type","value"],'
        '"columntypes":["bigint","text","double precision"],'
        '"columnvalues":[%s,%s,%s]}',
        kind,
        chunk_table,
        F.col("event_id").cast("string"),
        etype_lit,
        val_lit,
    )
    del_json = F.format_string(
        '{"kind":"delete","table":"%s",'
        '"oldkeys":{"keynames":["event_id"],"keytypes":["bigint"],'
        '"keyvalues":[%s]}}',
        chunk_table,
        F.col("event_id").cast("string"),
    )
    change = F.when(kind == "delete", del_json).otherwise(row_json)
    txn = (F.col("event_id") / 4).cast("bigint")
    return (
        e.select(txn.alias("txn"), F.col("event_id"), change.alias("change"))
        .groupBy("txn")
        .agg(
            F.concat(
                F.lit('{"change":['),
                F.array_join(
                    # deterministic in-transaction order
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("event_id", "change"))
                        ),
                        lambda s: s.getField("change"),
                    ),
                    ",",
                ),
                F.lit("]}"),
            ).alias("payload")
        )
        .select("payload")
    )


def write_feed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    num_files: int = 8,
    contiguous: bool = False,
) -> str:
    """Materialize the feed as JSON-lines text files (streaming-source
    fixture for readStream tests).

    ``contiguous=True`` splits files by txn RANGE instead of round-
    robin — the WAL-faithful ordering (a real replication feed arrives
    in commit order, so consecutive messages carry sequence-adjacent
    keys). The banded IVM consumer's rewrite confinement is
    proportional to exactly this locality; the default round-robin
    split is kept for cross-round comparability of the dispatch
    numbers.

    Spark writes the part files in parallel tasks, and the file source
    takes them in mtime order, so each part file then gets its own
    second, in part-name order: which messages share a microbatch is
    the same in every process."""
    feed = feed_messages(spark, sf_dir)
    if contiguous:
        # txn order == the first change's event_id when present (the
        # columnvalues are [event_id, ...]); a delete-only message
        # falls back to its oldkeys value. Both are JSON numbers.
        key = F.coalesce(
            F.get_json_object("payload", "$.change[0].columnvalues[0]"),
            F.get_json_object(
                "payload", "$.change[0].oldkeys.keyvalues[0]"
            ),
        ).cast("bigint")
        feed = feed.repartitionByRange(
            num_files, key
        ).sortWithinPartitions(key)
    else:
        feed = feed.repartition(num_files)
    feed.write.mode("overwrite").text(out_dir)
    parts = sorted(n for n in os.listdir(out_dir) if n.startswith("part-"))
    base = int(time.time()) - len(parts)
    for i, n in enumerate(parts):
        os.utime(os.path.join(out_dir, n), (base + i, base + i))
    return out_dir
