"""Per-subscriber fan-out sink (R15 analog: forwarder send_message +
per-client writer tasks, forwarder/mod.rs:44-72, ws_handler.rs:67-73).

The WebSocket transport itself is out of Spark's domain (BASELINE.json);
the engine's contract is: for every microbatch, deliver each routed
change to its subscriber's channel at-least-once. ``foreachBatch``
provides exactly that: offsets commit only after the batch function
returns, so a crash mid-batch redelivers (duplicates possible, loss not)
— the reference's LSN-ack contract.

Delivery adapters are pluggable; the default writes JSON-lines per
subscriber directory (an idempotent, replayable outbox a sidecar
WebSocket server tails). Tests use an in-memory collector. This module
owns the outbox layout: the two writers, and :class:`OutboxTailer`,
its one reader.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

#: a delivery adapter: called once per (subscriber, microbatch) as
#: ``deliver(sub_id, payloads, batch_id)``, payloads in WAL order
Delivery = Callable[[int, list, int], None]


#: ordering columns carried through the pipeline (cdc.pipeline
#: parse_wal2json); fan-out sorts each subscriber's payloads on these
#: when present, restoring the reference's per-client WAL order
#: (forwarder/mod.rs:44-72). Order scope: per microbatch.
ORDER_COLUMNS = ("seq", "chg_idx")


def _slim(routed: DataFrame) -> DataFrame:
    """The columns delivery needs, in sort-key order: sub_id, the
    ORDER_COLUMNS present, then change_json (the final tiebreak)."""
    order = [c for c in ORDER_COLUMNS if c in routed.columns]
    return routed.select("sub_id", *order, "change_json")


def fanout_batch(
    routed: DataFrame | pa.Table, deliver: Delivery, batch_id: int = -1
) -> None:
    """Deliver one (already-routed) microbatch through the driver.

    One Arrow collect brings the slim columns (sub_id, ORDER_COLUMNS
    present, change_json) to the driver, which sorts them on that full
    tuple, nulls first (Spark's ascending order, so a null seq sorts
    first and rows tying on (seq, chg_idx) take the same change_json
    order as :func:`fanout_partitions`), and hands each subscriber its
    payload list in WAL order — mirroring the reference where the
    forwarder thread hands lists to per-client writer tasks. Arrow
    rather than Row objects: at ~100k rows a Row collect with a Python
    sort is ~2.5x slower (4-core local session). ``routed`` may also
    be the slim table :func:`fanout_auto` already collected. For very
    large fan-outs use :func:`fanout_partitions`.
    """
    if isinstance(routed, pa.Table):
        table = routed
    else:
        table = _slim(routed).toArrow()
    table = table.sort_by(
        [(c, "ascending") for c in table.column_names],
        null_placement="at_start",
    )
    rows = zip(
        table.column("sub_id").to_pylist(),
        table.column("change_json").to_pylist(),
    )
    for sub_id, grp in itertools.groupby(rows, key=lambda r: r[0]):
        deliver(sub_id, [p for _, p in grp], batch_id)


def fanout_partitions(
    routed: DataFrame, deliver: Delivery, batch_id: int = -1
) -> None:
    """Executor-side fan-out: no payload ever crosses to the driver.

    ``repartition(sub_id)`` co-locates each subscriber's changes (one
    shuffle), a within-partition sort restores (sub_id, WAL) order,
    and the delivery adapter runs INSIDE ``foreachPartition`` on the
    executors — ``itertools.groupby`` over the sorted iterator hands
    each subscriber its ordered payload list without materializing the
    partition. This is the 100 TB path: driver memory is O(1) in
    fan-out size, and delivery parallelism scales with shuffle
    partitions. Requires a picklable adapter (the file-outbox adapters
    are; each subscriber lands in exactly one partition, so adapters
    never race on a subscriber's outbox).
    """
    slim = _slim(routed)
    # change_json joins the sort key as the final tiebreak: rows tying
    # on (seq, chg_idx) — e.g. a seq-less file feed where every message
    # gets seq=0 — would otherwise keep nondeterministic shuffle order,
    # and a crash-replay could rewrite an idempotent batch file with a
    # DIFFERENT line order than a consumer already tailed. fanout_batch
    # sorts its collected rows on the same key.
    parted = slim.repartition("sub_id").sortWithinPartitions(*slim.columns)

    def run(rows) -> None:
        for sub_id, grp in itertools.groupby(
            rows, key=lambda r: r["sub_id"]
        ):
            deliver(sub_id, [r["change_json"] for r in grp], batch_id)

    parted.foreachPartition(run)


#: auto mode: a routed microbatch at or below this many rows delivers
#: via the driver (one collect — cheaper than a shuffle-write for small
#: batches and friendly to driver-local adapters); anything larger goes
#: executor-side, where driver memory stays O(1) in fan-out size. At
#: ~1 KB/change this bounds the driver's transient batch footprint to
#: ~100 MB — reference-scale fan-outs stay on the fast path, a 100×
#: burst cannot balloon the driver.
AUTO_DRIVER_MAX_ROWS = 100_000


def fanout_auto(
    routed: DataFrame, deliver: Delivery, batch_id: int = -1
) -> None:
    """Per-batch selection between :func:`fanout_batch` and
    :func:`fanout_partitions` by routed-row count (round-3 verdict:
    a fixed driver default is the wrong one at 100× — the decision
    belongs to the batch, not the query). One bounded Arrow collect
    of at most ``AUTO_DRIVER_MAX_ROWS + 1`` slim rows both sizes the
    batch and, when it fits, is the delivery input: a small batch is
    evaluated once, with no count pass and no shuffle. The batch is
    persisted around that collect, which fills the cache, so a batch
    that overflows the bound goes to the executor path without
    evaluating the routing (and the observe() counters) a second time.
    The cache fills inside the collect's own job, so a small batch is
    still one job; dropping the persist measured no gain on
    ``live_fanout`` (p50 436 ms without, 446 ms with, 4 runs each).
    Driver memory stays bounded by the constant on both paths.
    Adapters must be executor-safe (picklable, shared-filesystem) for
    the large-batch path — the file-outbox adapters are."""
    routed = routed.persist()
    try:
        table = _slim(routed).limit(AUTO_DRIVER_MAX_ROWS + 1).toArrow()
        if table.num_rows > AUTO_DRIVER_MAX_ROWS:
            fanout_partitions(routed, deliver, batch_id)
        else:
            fanout_batch(table, deliver, batch_id)
    finally:
        routed.unpersist()


def outbox_deliver(out_dir: str) -> Delivery:
    """Append-mode file outbox under <out_dir>/<sub_id>/.

    At-least-once: a crash between delivery and offset commit replays
    the batch and appends duplicates — the reference's exact contract
    (WS push before LSN ack, replication.rs:198-203)."""

    def deliver(sub_id: int, payloads: list[str], batch_id: int = -1) -> None:
        d = os.path.join(out_dir, str(sub_id))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "outbox.jsonl"), "a") as f:
            for p in payloads:
                f.write(p.rstrip("\n") + "\n")

    return deliver


def idempotent_outbox_deliver(out_dir: str) -> Delivery:
    """Exactly-once file outbox: one file per (subscriber, batch_id),
    written atomically (tmp + rename). Replaying a batch after a crash
    rewrites the same file instead of appending — foreachBatch's
    batch_id is stable across restarts, which upgrades the sink from
    at-least-once to exactly-once with no coordination (the idempotent-
    writer pattern from SURVEY §7's risk register)."""

    def deliver(sub_id: int, payloads: list[str], batch_id: int = -1) -> None:
        import uuid

        d = os.path.join(out_dir, str(sub_id))
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"batch-{batch_id}.jsonl")
        # attempt-unique tmp name: in fanout_partitions mode this runs
        # on executors, where a speculative/zombie duplicate attempt of
        # the same partition would interleave writes into a SHARED
        # fixed tmp path and os.replace could publish a corrupt file;
        # unique tmps make the last os.replace the only visible write
        tmp = f"{final}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                for p in payloads:
                    f.write(p.rstrip("\n") + "\n")
            os.replace(tmp, final)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    return deliver


class OutboxTailer:
    """Incremental outbox reader: per-file byte offsets, so each poll
    reads only APPENDED data instead of re-reading the whole outbox
    (a full re-read per poll is O(total outbox) every 50 ms —
    quadratic over a long-lived high-volume subscription). Reads both
    writers' layouts, ``outbox.jsonl`` first and then the
    ``batch-<id>.jsonl`` files in numeric batch order, and only
    consumes complete lines, so a half-appended line is left for the
    next poll. An idempotent batch replay rewrites a file with
    identical bytes — the stored offset already covers them, so
    replays emit nothing new."""

    def __init__(self, out_dir: str, sub_id: int) -> None:
        self.dir = os.path.join(out_dir, str(sub_id))
        self._offsets: dict[str, int] = {}

    @staticmethod
    def _batch_no(name: str) -> int:
        # numeric batch order: lexicographic puts batch-10 before
        # batch-2
        try:
            return int(name.removeprefix("batch-").removesuffix(".jsonl"))
        except ValueError:
            return -1

    def poll(self) -> list[str]:
        if not os.path.isdir(self.dir):
            return []
        names = sorted(
            (n for n in os.listdir(self.dir) if n.endswith(".jsonl")),
            key=lambda n: (n != "outbox.jsonl", self._batch_no(n)),
        )
        out: list[str] = []
        for n in names:
            path = os.path.join(self.dir, n)
            off = self._offsets.get(n, 0)
            try:
                size = os.path.getsize(path)
            except OSError:
                continue
            if size <= off:
                continue
            with open(path, "rb") as f:
                f.seek(off)
                chunk = f.read(size - off)
            last_nl = chunk.rfind(b"\n")
            if last_nl < 0:
                continue
            self._offsets[n] = off + last_nl + 1
            out.extend(
                ln.decode("utf-8")
                for ln in chunk[: last_nl + 1].split(b"\n")[:-1]
                if ln.strip()
            )
        return out


def read_outbox(out_dir: str, sub_id: int) -> list[str]:
    """All delivered payloads for a subscriber, across both adapters'
    layouts, in batch order."""
    return OutboxTailer(out_dir, sub_id).poll()


def start_fanout_query(
    changes_stream: DataFrame,
    subscriptions,
    deliver: Delivery,
    checkpoint_dir: str,
    query_name: str = "cdc-fanout",
    available_now: bool = False,
):
    """Wire the full streaming EP3: parse/normalize is upstream; here
    routing against the subscription registry + foreachBatch fan-out,
    checkpointed.

    ``subscriptions`` is either a static DataFrame (registry snapshot,
    fixed for the query's lifetime) or a ZERO-ARG CALLABLE returning
    one — called at the top of EVERY microbatch, so subscribe/
    unsubscribe on a live registry applies on the next batch without a
    restart: the reference's live-forwarder semantics (new WebSocket
    subscriptions take effect immediately, api/ws_handler.rs:79-143).
    The routing side is compiled (cdc.pipeline.router: the registry's
    bounded collect plus the literal or the broadcast side) only when
    the callable returns a different frame object than the batch
    before, so a callable that returns the same frame until the
    registry changes (Engine.subscriptions) pays it once per registry
    change, and a static frame once. A small batch then runs one Spark
    job, the bounded collect of fanout_auto.

    Every microbatch goes through :func:`fanout_auto`, which picks the
    path from the batch's routed row count: up to
    ``AUTO_DRIVER_MAX_ROWS`` rows funnel through the driver in one
    collect (fanout_batch — fine at reference-scale fan-out, where one
    forwarder thread does the same), larger batches deliver on the
    executors (fanout_partitions — the adapter must be picklable and
    filesystem-shared).

    available_now=True runs in drain-and-stop mode (Trigger.AvailableNow):
    process everything committed so far in rate-limited microbatches,
    then terminate — the scheduled-backfill shape; the checkpoint makes
    consecutive drains resume where the last one stopped."""
    from speculare_pgcdc_spark.cdc.commit import start_foreach_batch
    from speculare_pgcdc_spark.cdc.pipeline import router

    # (frame, its router); the frame is held, so identity stays valid
    compiled: list = [None, None]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        subs = subscriptions() if callable(subscriptions) else subscriptions
        if subs is not compiled[0]:
            compiled[:] = [subs, router(subs)]
        fanout_auto(compiled[1](batch_df), deliver, batch_id)

    return start_foreach_batch(
        changes_stream, process, checkpoint_dir, query_name, available_now
    )
