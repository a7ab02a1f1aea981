"""The one commit protocol of the stateful CDC consumers: stage ->
mark -> swap -> recover, plus the one ``foreachBatch`` starter.

Each consumer (``cdc.apply.start_matview_query``, the one snapshot
consumer, and ``cdc.scd2.start_scd2_query``) keeps only its plan; this
module owns how the plan's output becomes the live state.

* **Stage.** The plan writes each changed dir ``d`` in full under
  ``<d>.b<batch_id>.tmp`` (:meth:`Batch.staged`). A banded root is staged as
  one tmp root holding the touched ``band=<i>`` dirs.
* **Mark.** Before a staged dir (or staged band dir) is renamed live,
  the ``_applied_batch_id`` marker is written into it, so marker and
  data commit in the same rename. Parquet readers skip
  underscore-prefixed files (the ``_SUCCESS`` convention).
* **Swap.** Units swap in the order the consumer lists them: its plain
  dirs, then its band set, one band at a time. Each swap is
  ``live -> live.old``, ``staged -> live``, drop ``live.old``; a
  touched band absent from the stage had every row deleted and is
  removed the same way (:func:`swap`).
* **Read.** :class:`Dirs` reads a unit with the schema the consumer
  last staged there, so a steady batch infers no schema.
* **Recover.** At the top of every batch each unit is recovered: a
  ``.old`` with no live dir is a crash between a swap's two renames
  and is renamed back; a ``.old`` beside its live dir is post-swap
  garbage; stale ``<d>.b*.tmp`` stages are dropped (the replay
  re-stages them).

Replay. ``foreachBatch`` is at-least-once: Spark records a batch in
its commit log only after the batch function returns, so a crash at
any point above replays the batch, against any prefix of its swaps. A
unit, or a band, whose marker already reads this batch is skipped,
and a batch whose every plain unit is marked is not planned at all
(:func:`start_consumer`). The snapshot consumer's plan would converge
without the marker (latest-per-key apply is idempotent, and a view
refresh recomputes from the snapshot); SCD2 would not: re-merging a
batch into its POST-merge open table re-enters every row beside the
version it already created, duplicating versions and closing the real
open slice. SCD2's log entry is written before its open table is
staged and named by the open table's sequence, so a replay before the
swap re-derives the same entry and overwrites it by name.

The marker is ``<query id>:<batch id>``, the query id being the
``id`` of ``<checkpoint_dir>/metadata``. It is stable across restarts
of one checkpoint and new for a fresh one, whose batch ids restart at
0: a bare batch id would make a fresh checkpoint's first batches over
existing state look already applied, and drop them.

Order. A matview commits its VIEW first, then the snapshot or its
bands. A crash between them replays the batch against
the PRE-batch snapshot (or pre-batch bands), where the old group of
every delete and group-moving update is still derivable; the
already-committed view is kept. Snapshot-first would leave the replay
a post-apply snapshot in which that old group is gone, so its stale
view row would be carried forward for good.
"""

from __future__ import annotations

import json
import os
import shutil

#: partition-column name of the banded layout (a RESERVED name: user
#: columns may not collide). Not underscore-prefixed, because Spark's
#: partition discovery skips `_`/`.`-prefixed directories.
BAND_COL = "band"
#: per-dir marker file naming the batch that produced the dir
MARKER = "_applied_batch_id"


def band_dir(root: str, band: int) -> str:
    return os.path.join(root, f"{BAND_COL}={band}")


def swap(live: str, stage: str | None) -> None:
    """Replace ``live`` with ``stage`` (remove it when ``stage`` is
    None). ``live`` may be absent (a from-scratch consumer's first
    batch)."""
    old = f"{live}.old"
    if os.path.exists(live):
        os.rename(live, old)
    if stage is not None:
        os.rename(stage, live)
    if os.path.exists(old):
        shutil.rmtree(old)


def _restore(d: str) -> None:
    old = f"{d}.old"
    if not os.path.exists(old):
        return
    if os.path.exists(d):
        shutil.rmtree(old)
    else:
        os.rename(old, d)


def recover(d: str) -> None:
    """Crash recovery of one unit dir and of the band dirs under it."""
    # match on the BASENAME: with a relative root ('state') the joined
    # path './state.b5.tmp' never starts with 'state.b'
    parent = os.path.dirname(d) or "."
    prefix = f"{os.path.basename(d)}.b"
    for entry in os.listdir(parent):
        if (
            entry.startswith(prefix)
            and entry.endswith(".tmp")
            and entry[len(prefix):-len(".tmp")].isdigit()
        ):
            shutil.rmtree(os.path.join(parent, entry))
    _restore(d)
    if os.path.isdir(d):
        for entry in os.listdir(d):
            if entry.endswith(".old"):
                _restore(os.path.join(d, entry[: -len(".old")]))


class Batch:
    """One microbatch's view of the protocol: its stage names, its
    marker and the commit."""

    def __init__(self, batch_id: int, query_id: str):
        self.id = batch_id
        self.tag = f"{query_id}:{batch_id}"

    def staged(self, d: str) -> str:
        """Where this batch stages the new content of dir ``d``."""
        return f"{d}.b{self.id}.tmp"

    def applied(self, d: str) -> bool:
        try:
            with open(os.path.join(d, MARKER)) as f:
                return f.read() == self.tag
        except FileNotFoundError:
            return False

    def _commit(self, live: str, stage: str) -> None:
        """Swap ``stage`` in for ``live`` (or remove ``live`` when
        nothing is staged), unless this batch already did."""
        if self.applied(live):
            return
        if os.path.isdir(stage):
            with open(os.path.join(stage, MARKER), "w") as f:
                f.write(self.tag)
            swap(live, stage)
        elif os.path.exists(live):
            swap(live, None)

    def commit(self, dirs, band_root: str | None, bands) -> None:
        for d in dirs:
            if os.path.isdir(self.staged(d)):
                self._commit(d, self.staged(d))
        for b in bands or []:
            self._commit(
                band_dir(band_root, b), band_dir(self.staged(band_root), b)
            )


class Dirs:
    """A consumer's reads of its own dirs, with no schema inference
    per batch: a dir's schema is inferred at its first read in the
    query run (one job; crash recovery has run by then, so a dir
    caught mid-swap is back in place), then taken from the frame the
    consumer last staged there."""

    def __init__(self, spark):
        self.spark = spark
        self.schemas: dict = {}

    def read(self, d: str, *paths: str):
        """Dir ``d``, or ``paths`` under it or under its stage (its
        stage, or band dirs)."""
        if d not in self.schemas:
            self.schemas[d] = self.spark.read.parquet(d).schema
        return self.spark.read.schema(self.schemas[d]).parquet(*(paths or [d]))

    def stage(self, df, d: str, batch: Batch, *partition_by: str) -> None:
        df.write.partitionBy(*partition_by).mode("overwrite").parquet(
            batch.staged(d)
        )
        self.schemas[d] = df.schema


def job_tag(query_name: str, batch_id: int) -> str:
    """The tag on every Spark job of a ``foreachBatch`` query's batch."""
    return f"{query_name}:batch-{batch_id}"


def query_id(checkpoint_dir: str) -> str:
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.loads(f.readline())["id"]


def start_foreach_batch(
    stream, process, checkpoint_dir: str, query_name: str,
    available_now: bool = False,
):
    """The package's one ``foreachBatch`` writer: checkpointed, named,
    and in drain-and-stop mode (Trigger.AvailableNow) when asked.

    Every Spark job of a batch carries the job tag :func:`job_tag`
    names for the query and the batch, so a batch's jobs can be
    counted and timed; the tag is removed after the batch. A tag, not
    a job group: the stream runs its batches in its own run-id group,
    through which ``query.stop()`` cancels a running batch."""
    sc = stream.sparkSession.sparkContext

    def tagged(batch_df, batch_id: int) -> None:
        tag = job_tag(query_name, batch_id)
        sc.addJobTag(tag)
        try:
            process(batch_df, batch_id)
        finally:
            sc.removeJobTag(tag)

    writer = (
        stream.writeStream.foreachBatch(tagged)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_consumer(
    stream,
    plan,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    dirs: list[str],
    band_root: str | None = None,
):
    """Run a stateful consumer under the protocol above. ``dirs`` are
    its plain unit dirs in commit order; ``band_root`` its band set,
    which commits last. ``plan(batch_df, batch)`` stages every unit it
    changes under ``batch.staged(d)`` and returns the bands it touched
    (None when it has no band set or staged nothing)."""
    units = [*dirs, *([band_root] if band_root else [])]
    qid = None

    def process(batch_df, batch_id: int) -> None:
        nonlocal qid
        qid = qid or query_id(checkpoint_dir)
        batch = Batch(batch_id, qid)
        for d in units:
            recover(d)
        if band_root is None and all(batch.applied(d) for d in dirs):
            return
        batch.commit(dirs, band_root, plan(batch_df, batch))
        for d in units:  # stages of units this batch had already swapped
            shutil.rmtree(batch.staged(d), ignore_errors=True)

    return start_foreach_batch(
        stream, process, checkpoint_dir, query_name, available_now
    )
