"""SCD2 incremental maintenance — the streaming twin of q281's batch
build (queries/downstream.py), closing the CDC-consumer loop the same
way the q279 parity test closed T4's: the versioned dimension a
change-history consumer maintains incrementally, batch by batch, must
equal the one-shot batch build over the full history.

The reference engine forwards changes (src/cdc/replication.rs:169-204)
and leaves materialization to its consumers; this module IS that
consumer for the SCD2 shape.

Contract — what the parity guarantee actually requires (tightened per
the round-10 advice):

* Per key, no batch row's ``valid_from`` may be STRICTLY LESS than the
  key's current open version's ``valid_from`` (equivalently: less than
  the max ``valid_from`` seen so far). CDC commit order guarantees
  this for transactional sources. A strictly-earlier row belongs
  before an already-CLOSED version whose ``valid_to`` this merge never
  rewrites, so the output silently diverges from the one-shot build —
  pass ``validate=True`` to turn that silent divergence into a raised
  ``ValueError`` (one extra key-window pass per batch).
* EQUAL ``valid_from`` across batches is fine: the state stores each
  open version's tie key (``_tie``), and the re-chain ranks the open
  row by its REAL ``(valid_from, _tie)`` — not a hardcoded front
  rank — so a later batch row tying on ``valid_from`` with a smaller
  tie key slots BEFORE the open row exactly as q281's
  ``(valid_from, o_orderkey)`` total order does (the open row's
  version number is re-assigned in that case, which only touches the
  open slice the merge rewrites anyway).
* Tie keys are unique across the history of a key (o_orderkey here);
  redelivery of the same physical row is upstream dedup's job (T5).
* Rows with a NULL key are dropped before ranking, as
  ``latest_changes`` drops them: a NULL key never matches its own open
  row, so each batch would start it a new chain.

Each batch (:func:`_rechain`) pools every key's CURRENT OPEN version
(with its real rank keys) with the batch's new rows, ranks the pool per
key by ``(valid_from, _tie)`` and re-chains ``valid_to`` with one
lead(); versions continue from the count of already-CLOSED versions,
and the last row of each key stays open (valid_to NULL). Closed
versions never change again.

Scale shape: the state root holds ``open/``, one row per key, and
``closed/<n>``, an append-only log with one entry per batch. A batch
reads and rewrites ``open/`` and writes at most one new log entry of
the versions it closed: ONE key-partitioned window and ONE write, so
its cost follows the key count plus the batch, never the history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from speculare_pgcdc_spark.cdc.commit import Dirs, start_consumer

#: SCD2 public state schema (q281's output shape). The stored state
#: additionally carries ``_tie`` (each version's rank tie key) so the
#: open row re-enters the next batch's chain at its true position;
#: consumers select STATE_COLS.
STATE_COLS = [
    "o_custkey", "version", "valid_from", "valid_to", "status",
    "price_e2",
]

#: full stored schema = STATE_COLS + the internal rank tie key
STORED_COLS = STATE_COLS + ["_tie"]

#: the state root's open table and its log of closed versions
OPEN, CLOSED = "open", "closed"
#: file in the open table naming the last log entry it covers
LOG_SEQ = "_log_seq"


def scd2_batch_rows(batch: DataFrame) -> DataFrame:
    """Normalize a raw change batch (orders-shaped) to version rows."""
    return batch.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
        .alias("price_e2"),
        F.col("o_orderkey").cast("bigint").alias("_tie"),
    )


def scd2_apply(
    state: DataFrame | None,
    batch: DataFrame,
    validate: bool = False,
) -> DataFrame:
    """Merge one change batch into the SCD2 state; returns new state.

    ``state`` is None (or empty) on the first batch; thereafter it is
    a prior return value (STORED_COLS schema). ``batch`` is
    orders-shaped raw changes.

    ``validate=True`` enforces the contract's ordering precondition
    (no batch row strictly earlier than the key's open version) with
    one extra pass over the key window and raises ValueError on
    violation instead of silently diverging from the one-shot build.
    """
    rows = scd2_batch_rows(batch)
    if state is None:
        return _rechain(None, rows, validate)
    is_open = F.col("valid_to").isNull()
    return (
        state.filter(~is_open)
        .select(*STORED_COLS)
        .unionByName(_rechain(state.filter(is_open), rows, validate))
    )


def _rechain(
    opens: DataFrame | None,
    rows: DataFrame,
    validate: bool = False,
) -> DataFrame:
    """Re-chain the open versions ``opens`` with the version rows
    ``rows`` (the :func:`scd2_batch_rows` schema). Returns, in
    STORED_COLS, each key's new open version and the versions this
    batch closed; a key the batch does not touch passes through as its
    unchanged open row."""
    vals = ["valid_from", "status", "price_e2", "_tie"]
    pool = rows.filter(F.col("o_custkey").isNotNull()).select(
        "o_custkey", F.lit(None).cast("bigint").alias("_base_v"), *vals
    )
    if opens is not None:
        # versions continue from the key's CLOSED count (= open
        # version - 1); batch rows carry NULL and take the key's max
        pool = pool.unionByName(
            opens.select(
                "o_custkey", (F.col("version") - 1).alias("_base_v"), *vals
            )
        )
    w_key = Window.partitionBy("o_custkey")
    w_chain = w_key.orderBy("valid_from", "_tie")
    if validate and opens is not None:
        open_vf = F.max(
            F.when(F.col("_base_v").isNotNull(), F.col("valid_from"))
        ).over(w_key)
        n_bad = (
            pool.select((F.col("valid_from") < open_vf).alias("late"))
            .filter("late")
            .count()
        )
        if n_bad:
            raise ValueError(
                f"scd2_apply: {n_bad} batch row(s) carry a "
                "valid_from strictly earlier than their key's "
                "open version — they belong before an already-"
                "closed version this merge never rewrites, so the "
                "incremental state would silently diverge from "
                "the one-shot build (see module contract)"
            )
    return pool.select(
        "o_custkey",
        (
            F.coalesce(F.max("_base_v").over(w_key), F.lit(0))
            + F.row_number().over(w_chain)
        ).cast("bigint").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w_chain).alias("valid_to"),
        "status",
        "price_e2",
        "_tie",
    )


def _log_seq(open_dir: str) -> int:
    try:
        with open(os.path.join(open_dir, LOG_SEQ)) as f:
            return int(f.read())
    except FileNotFoundError:
        return 0


def closed_entries(root: str) -> list[str]:
    """The log entries the live open table covers, ``1..n``: an entry
    written by a batch whose open table never swapped in is not
    among them."""
    n = _log_seq(os.path.join(root, OPEN))
    log = os.path.join(root, CLOSED)
    names = os.listdir(log) if os.path.isdir(log) else []
    return [
        os.path.join(log, e)
        for e in sorted(names)
        if e.isdigit() and int(e) <= n
    ]


def read_scd2_state(spark: SparkSession, root: str) -> DataFrame:
    """The SCD2 dimension under ``root`` (STORED_COLS): the open table
    plus every committed log entry."""
    return spark.read.parquet(
        os.path.join(root, OPEN), *closed_entries(root)
    ).select(*STORED_COLS)


def _write_split(chain: DataFrame, root: str, stage: str) -> None:
    """Write ``chain`` (STORED_COLS) in ONE pass: its closed versions
    become log entry ``n + 1``, overwriting any entry of that name,
    and its open versions the open table at ``stage``, whose
    ``LOG_SEQ`` reads ``n + 1``. ``n`` is the live open table's.
    Nothing is staged when ``chain`` is empty."""
    n = _log_seq(os.path.join(root, OPEN))
    (
        chain.select(*STORED_COLS, F.col("valid_to").isNull().alias(OPEN))
        .write.partitionBy(OPEN)
        .mode("overwrite")
        .parquet(stage)
    )
    entry = os.path.join(root, CLOSED, str(n + 1))
    shutil.rmtree(entry, ignore_errors=True)
    if os.path.isdir(f"{stage}/{OPEN}=false"):
        os.makedirs(os.path.dirname(entry), exist_ok=True)
        os.rename(f"{stage}/{OPEN}=false", entry)
    opens = f"{stage}/{OPEN}=true"
    if not os.path.isdir(opens):
        shutil.rmtree(stage)
        return
    for name in os.listdir(opens):
        os.rename(os.path.join(opens, name), os.path.join(stage, name))
    os.rmdir(opens)
    with open(os.path.join(stage, LOG_SEQ), "w") as f:
        f.write(str(n + 1))


def write_scd2_state(state: DataFrame, root: str) -> None:
    """Seed an empty ``root`` from a one-shot build (a
    :func:`scd2_apply` return value)."""
    _write_split(state, root, os.path.join(root, OPEN))


def start_scd2_query(
    changes_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    validate: bool = False,
    query_name: str = "cdc-scd2",
    available_now: bool = False,
):
    """Maintain the SCD2 state root ``state_dir`` from a live change
    stream (read it with :func:`read_scd2_state`; seed it with
    :func:`write_scd2_state`, or start from an absent root).

    Each microbatch re-chains the open table with the batch
    (:func:`_rechain`), writes the versions it closed to log entry
    ``n + 1`` and stages the new open table, which swaps in last under
    :mod:`~speculare_pgcdc_spark.cdc.commit`. Until that swap the
    reader's ``n`` excludes the new entry, and a replay re-derives the
    same rows from the same open table and overwrites the entry by
    name. Entries are named by this state-owned sequence, not by the
    batch id, which a fresh checkpoint restarts at 0. The open table
    is read with the schema this query last staged
    (:class:`~speculare_pgcdc_spark.cdc.commit.Dirs`), so a steady
    batch runs two Spark jobs: the key window's shuffle and the split
    write.

    ``validate=True`` forwards the ordering-precondition check, turning
    a strictly-late batch into a raised error instead of silent
    divergence from the one-shot build.
    """
    dirs = Dirs(changes_stream.sparkSession)
    open_dir = os.path.join(state_dir, OPEN)
    os.makedirs(state_dir, exist_ok=True)  # recovery lists it

    def plan(batch_df: DataFrame, batch) -> None:
        prev = dirs.read(open_dir) if os.path.exists(open_dir) else None
        chain = _rechain(prev, scd2_batch_rows(batch_df), validate)
        _write_split(chain, state_dir, batch.staged(open_dir))
        dirs.schemas[open_dir] = chain.schema

    return start_consumer(
        changes_stream, plan, checkpoint_dir, query_name, available_now,
        [open_dir],
    )
