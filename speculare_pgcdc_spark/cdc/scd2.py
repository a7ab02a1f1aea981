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
  ``ValueError`` (one extra touched-key aggregate per batch).
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

Each batch:

1. pools the key's CURRENT OPEN version (with its real rank keys) with
   the batch's new rows;
2. ranks the pool per key by ``(valid_from, _tie)`` and re-chains
   ``valid_to`` with one lead() — versions continue from the count of
   already-CLOSED versions, the last row stays open (valid_to NULL);
3. merges: untouched state rows pass through, touched keys' open
   rows are replaced by the re-chained slice.

Scale shape per batch: ONE key-partitioned window over (touched open
rows + batch) + one left-anti merge against state — both keyed on the
dimension key. At warehouse scale the merge is the standard MERGE
INTO / bucket-overwrite (state bucketed by key, only touched buckets
rewritten); the test-sized driver here rewrites one parquet dir,
which changes durability mechanics, not the per-batch plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from speculare_pgcdc_spark.cdc.apply import (
    BAND_COL,
    band_of,
    read_band_width,
    read_bands,
    touched_bands,
)
from speculare_pgcdc_spark.cdc.commit import start_consumer

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

_CHAIN_COLS = ["o_custkey", "_base_v", "valid_from", "status",
               "price_e2", "_tie"]


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
    a prior return value (STORED_COLS schema; a bare STATE_COLS frame
    is accepted for back-compat — its open rows then rank with tie key
    NULL, i.e. FIRST among equal valid_from, the pre-round-11
    behavior). ``batch`` is orders-shaped raw changes.

    ``validate=True`` enforces the contract's ordering precondition
    (no batch row strictly earlier than the key's open version) with
    one extra aggregate over the touched keys and raises ValueError on
    violation instead of silently diverging from the one-shot build.
    """
    return _scd2_apply_rows(state, scd2_batch_rows(batch), validate)


def _scd2_apply_rows(
    state: DataFrame | None,
    rows: DataFrame,
    validate: bool = False,
) -> DataFrame:
    """:func:`scd2_apply` on ALREADY-normalized version rows (the
    :func:`scd2_batch_rows` schema). The banded consumer parses the
    batch exactly once — band discovery and the merge share one
    checkpointed rows frame (round-14 advice: the raw batch was being
    re-parsed per pass) — so it enters here directly."""
    new = rows.select(
        "o_custkey",
        F.lit(None).cast("bigint").alias("_base_v"),
        "valid_from",
        "status",
        "price_e2",
        "_tie",
    )
    if state is None:
        base = None
    else:
        if "_tie" not in state.columns:
            state = state.withColumn(
                "_tie", F.lit(None).cast("bigint")
            )
        touched = new.select("o_custkey").distinct()
        base = state.filter(F.col("valid_to").isNull()).join(
            touched, "o_custkey", "left_semi"
        )
    if base is not None:
        if validate:
            floor_vf = base.groupBy("o_custkey").agg(
                F.min("valid_from").alias("_open_vf")
            )
            n_bad = (
                new.join(floor_vf, "o_custkey")
                .filter(F.col("valid_from") < F.col("_open_vf"))
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
        # the open version re-enters the chain at its REAL
        # (valid_from, _tie) so equal-valid_from batch rows slot
        # around it exactly as in the one-shot total order; versions
        # continue from the key's CLOSED count (= open version - 1)
        opens = base.select(
            "o_custkey",
            (F.col("version") - 1).alias("_base_v"),
            "valid_from",
            "status",
            "price_e2",
            "_tie",
        )
        base_v = opens.select("o_custkey", "_base_v")
        chain = (
            new.drop("_base_v")
            .join(F.broadcast(base_v), "o_custkey", "left")
            .select(
                "o_custkey",
                F.coalesce(F.col("_base_v"), F.lit(0)).alias("_base_v"),
                "valid_from",
                "status",
                "price_e2",
                "_tie",
            )
            .unionByName(opens.select(*_CHAIN_COLS))
        )
    else:
        chain = new.select(
            "o_custkey",
            F.lit(0).cast("bigint").alias("_base_v"),
            "valid_from",
            "status",
            "price_e2",
            "_tie",
        )
    # NULL _tie (legacy STATE_COLS input) sorts FIRST among equal
    # valid_from — the pre-tie behavior — via asc_nulls_first
    w_chain = Window.partitionBy("o_custkey").orderBy(
        F.col("valid_from").asc(),
        F.col("_tie").asc_nulls_first(),
    )
    updated = chain.select(
        "o_custkey",
        (F.col("_base_v") + F.row_number().over(w_chain))
        .cast("bigint").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w_chain).alias("valid_to"),
        "status",
        "price_e2",
        "_tie",
    )
    if state is None:
        return updated.select(*STORED_COLS)
    untouched = state.join(
        updated.select("o_custkey").distinct(), "o_custkey", "left_anti"
    )
    closed_kept = state.filter(F.col("valid_to").isNotNull()).join(
        updated.select("o_custkey").distinct(), "o_custkey", "left_semi"
    )
    return (
        untouched.select(*STORED_COLS)
        .unionByName(closed_kept.select(*STORED_COLS))
        .unionByName(updated.select(*STORED_COLS))
    )


def start_scd2_query(
    changes_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    validate: bool = False,
    query_name: str = "cdc-scd2",
    available_now: bool = False,
):
    """Maintain the SCD2 state dir from a live change stream — the
    packaged consumer the test harness chained by hand (round 12; the
    last of the reference's four consumer shapes to get a streaming
    entry: dispatch = Engine.watch, snapshot = start_apply_query,
    matview = start_matview_query, SCD2 = this).

    Each microbatch reads the prior state parquet (None on the very
    first batch — an absent dir), runs :func:`scd2_apply`, and swaps
    the dir atomically. ``scd2_apply`` is not idempotent, so a replay
    must not re-merge a committed batch: commit and replay follow
    :mod:`~speculare_pgcdc_spark.cdc.commit`.

    ``validate=True`` forwards the ordering-precondition check, turning
    a strictly-late batch into a raised error instead of silent
    divergence from the one-shot build.
    """
    spark = changes_stream.sparkSession

    def plan(batch_df: DataFrame, batch) -> None:
        prev = (
            spark.read.parquet(state_dir)
            if os.path.exists(state_dir)
            else None
        )
        out = scd2_apply(prev, batch_df, validate=validate)
        out.select(*STORED_COLS).write.mode("overwrite").parquet(
            batch.staged(state_dir)
        )

    return start_consumer(
        changes_stream, plan, checkpoint_dir, query_name, available_now,
        [state_dir],
    )


def start_scd2_query_banded(
    changes_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    validate: bool = False,
    query_name: str = "cdc-scd2-banded",
    available_now: bool = False,
):
    """Partition-confined twin of :func:`start_scd2_query`: the SCD2
    state lives in the banded layout (cdc.apply's ``band=<i>`` dirs
    keyed on o_custkey; seed with ``write_banded_snapshot(state_df,
    state_dir, "o_custkey")``), and each microbatch rewrites ONLY the
    bands containing the batch's keys. The versioned-dimension state
    GROWS forever (one row per order), so the full-rewrite consumer's
    per-batch cost grows with history — this one's tracks the batch's
    key locality.

    Replay protection is band-grained (see
    :mod:`~speculare_pgcdc_spark.cdc.commit`): a replayed batch merges
    only the bands it has not swapped yet.
    """
    spark = changes_stream.sparkSession
    width = read_band_width(state_dir)

    def plan(batch_df: DataFrame, batch) -> list[int] | None:
        # ONE parse of the batch, checkpointed: band discovery and the
        # merge input both read this frame (round-14 advice — the
        # latest_changes single-parse doctrine; previously the raw
        # batch lineage ran twice per microbatch). NULL keys are
        # dropped BEFORE banding, matching latest_changes' null-key
        # guard: band NULL would otherwise make sorted() raise
        # TypeError on every replay, permanently wedging the stream.
        rows = (
            scd2_batch_rows(batch_df)
            .filter(F.col("o_custkey").isNotNull())
            .withColumn("_band", band_of("o_custkey", width))
            .localCheckpoint(eager=True)
        )
        bands = batch.pending(
            state_dir, touched_bands(rows, F.col("_band"))
        )
        if not bands:
            return None
        prev = read_bands(spark, state_dir, bands)
        rel = rows.filter(F.col("_band").isin(bands)).drop("_band")
        out = _scd2_apply_rows(prev, rel, validate=validate)
        (
            out.select(*STORED_COLS)
            .withColumn(BAND_COL, band_of("o_custkey", width))
            .repartition(max(len(bands), 1), F.col(BAND_COL))
            .write.partitionBy(BAND_COL)
            .mode("overwrite")
            .parquet(batch.staged(state_dir))
        )
        return bands

    return start_consumer(
        changes_stream, plan, checkpoint_dir, query_name, available_now,
        [], band_root=state_dir,
    )
