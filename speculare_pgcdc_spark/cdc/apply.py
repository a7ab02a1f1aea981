"""Apply a parsed change feed to a base snapshot — the canonical
DOWNSTREAM consumer of the reference's change stream (speculare-pgcdc
stops at fan-out; every real deployment's next step is maintaining a
queryable copy: upsert inserts/updates, drop deletes).

Input is the normalized CHANGE_COLUMNS frame (cdc.pipeline). The key of
an insert/update comes from its row map; a delete carries no columns
(wal2json v1 ``oldkeys`` / v2 ``identity`` — the §2A quirk), so its key
is extracted from the raw payload (``change_json``), which both parse
branches preserve verbatim.

Scale shape: latest-change-per-key is one aggregation
(max_by over the (seq, chg_idx) WAL order — no window, no join). The
streaming merge is planned by the size of the batch
(:func:`stage_snapshot`): a batch of up to ``LOOKUP_INLINE_MAX_ROWS``
change rows is collected with no shuffle, each key's latest change is
picked on the driver, and the changed keys and upserts ride the plan
as literals (an InSet of keys and a LocalRelation of upserts: no join,
no exchange); a larger batch is aggregated in Spark and merged by one
equi-join on the key. With the base bucketed by key
(sources.write_bucketed) the join side is co-located and the whole
apply is a single shuffle of the (small) change batch. One consumer,
:func:`start_matview_query`, maintains the snapshot (plain, or banded
by key range when the snapshot dir holds the banded layout) and,
optionally, an aggregate view. Its snapshot OVERWRITE is the
local-parquet stand-in for a real table format's row-level MERGE
(Delta/Iceberg) — the apply PLAN is the part that carries over.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from speculare_pgcdc_spark.catalog import eval_once
from speculare_pgcdc_spark.cdc import pipeline
from speculare_pgcdc_spark.cdc.commit import (
    BAND_COL,
    Dirs,
    start_consumer,
)


def _change_key(key_col: str, from_cols: bool = False) -> str:
    """SQL for the change's key as a string: row map for
    inserts/updates, oldkeys (v1) / identity (v2) from the raw payload
    for deletes.

    The delete key is located BY NAME in oldkeys.keynames / the
    identity entries — never positionally: a composite or reordered
    REPLICA IDENTITY (e.g. (tenant_id, event_id)) puts key_col at an
    arbitrary index, and taking [0] would silently delete the wrong
    row. Values go through variant 'array<string>' coercion, the same
    lenient typed-cell rule the v1/v2 parse uses for columnvalues.

    ``from_cols=True``: the frame was parsed with
    ``parse_wal2json(delete_keys=True)`` and carries the key
    names/values pre-extracted as ``_dk_names``/``_dk_vals`` (same
    by-name lookup, same lenient string coercion, v1 and v2 unified).
    That path never touches ``change_json``, so Catalyst prunes the
    to_json payload render AND this function's three re-parses out of
    the apply lineage — parse-once instead of
    parse -> serialize -> re-parse x3.

    SQL text, not Columns: it is parsed in one JVM call, where the
    Column form cost ~20 ms of py4j calls per plan (4 vCPU)."""
    k = _sql_literal(key_col)
    if from_cols:
        names, vals = "_dk_names", "_dk_vals"
    else:
        doc = "try_parse_json(change_json)"
        names = f"variant_get({doc}, '$.oldkeys.keynames', 'array<string>')"
        vals = f"variant_get({doc}, '$.oldkeys.keyvalues', 'array<string>')"
    pos = f"array_position({names}, {k})"
    keys = [
        f"try_element_at(row_str, {k})",
        f"CASE WHEN {pos} > 0 "
        f"THEN try_element_at({vals}, CAST({pos} AS INT)) END",
    ]
    if not from_cols:
        idn = (
            f"variant_get({doc}, '$.identity', "
            "'array<struct<name:string,value:string>>')"
        )
        keys.append(
            f"try_element_at(filter({idn}, x -> x.name = {k}), 1).value"
        )
    return f"coalesce({', '.join(keys)})"


def _keyed(
    changes: DataFrame, key_col: str, key_t: str, tables, *cols: str
) -> DataFrame:
    """The changes of ``tables`` (None = all) as their typed key plus
    the SQL expressions ``cols``."""
    rel = changes if tables is None else changes.where(
        in_set("table_name", tables)
    )
    key = _change_key(key_col, "_dk_names" in changes.columns)
    return rel.selectExpr(f"CAST({key} AS {key_t}) AS {_q(key_col)}", *cols)


def latest_changes(
    changes: DataFrame,
    key_col: str,
    key_t: str = "string",
    tables: list[str] | None = None,
) -> DataFrame:
    """Collapse a raw change batch to its per-key LATEST change in WAL
    order: one row per changed key, columns ``key_col`` + ``_chg``
    (struct kind, row_str). This frame — bounded by the batch's key
    count, never the snapshot — is the single parse of the batch;
    band discovery, the merge, and the touched-group derivation all
    read it (checkpointed by the caller), so the expensive feed-parse
    lineage runs ONCE per batch instead of once per consumer.

    Contract:

    - exactly one row per non-null key, by construction: one
      ``groupBy(key)`` aggregate, nothing joined back;
    - the winner is the change with the greatest ``(seq, chg_idx)``;
    - a null ``seq`` orders FIRST (the struct itself is non-null, and
      a null field sorts below any value) — the nulls-first order
      ``streaming.fanout.fanout_batch`` delivers in — so a null-seq
      change still applies when it is the key's only change;
    - on a seq-less feed (``parse_wal2json`` without ``seq_col``: every
      message at seq 0) two messages can tie on ``(seq, chg_idx)``;
      the winner among tied changes is then unspecified, but it is
      still ONE row.

    Shape: ``max_by(_chg, struct(seq, chg_idx))``, which plans as a
    SortAggregate (a struct/map buffer is not hash-aggregable). A
    HashAggregate ``max`` over a packed decimal ordinal plus an
    equality join-back was tried and reverted: it let tied positions
    both survive the join, and it lost the interleaved A/B
    (``AB_LATEST.json``, join-back / max_by per-round ratio median:
    q96 1.23 and q97 1.04 at sf0.1, 1.12 and 1.07 at 10x, q96 1.10
    at 100x)."""
    keyed = _keyed(
        changes, key_col, key_t, tables,
        "struct(seq, chg_idx) AS _ord", "struct(kind, row_str) AS _chg",
    )
    # Generate barrier before the null-key guard (r14, guide §4.4's
    # duplicate-evaluation defect): a filter above a projection is
    # pushed below it with the alias SUBSTITUTED, so filtering on the
    # key column directly re-ran the whole key expression — including
    # the full row_str map build it reads through — once in the pushed
    # filter and again in the projection. Behind catalog.eval_once the
    # row is evaluated exactly once and the guard tests a materialized
    # struct field instead.
    keyed = eval_once(keyed, key_col, "_ord", "_chg").filter(
        F.col(key_col).isNotNull()
    )
    return keyed.groupBy(key_col).agg(
        F.max_by("_chg", "_ord").alias("_chg")
    )


def _ordered(key_col: str, columns: dict[str, str]) -> list[str]:
    return [key_col, *[c for c in columns if c != key_col]]


def _q(col: str) -> str:
    """``col`` as a quoted SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _typed_sql(key_col: str, columns: dict[str, str]) -> list[str]:
    """The snapshot's columns and types as SQL: one ``selectExpr`` is
    parsed and analyzed once, where a Column per cast parses each type
    string in its own JVM call (~40 ms per plan for seven columns)."""
    return [
        f"CAST({_q(c)} AS {columns.get(c, 'string')}) AS {_q(c)}"
        for c in _ordered(key_col, columns)
    ]


def _upsert_cols(key_col: str, columns: dict[str, str]) -> list:
    """An upsert's typed value columns, read from its row map."""
    return [
        F.try_element_at("_chg.row_str", F.lit(c)).cast(t).alias(c)
        for c, t in columns.items()
        if c != key_col
    ]


def apply_latest(
    base: DataFrame,
    latest: DataFrame,
    key_col: str,
    columns: dict[str, str],
) -> DataFrame:
    """Merge a :func:`latest_changes` frame into ``base``: upserts
    replace the row, deletes remove it, untouched keys pass through;
    one equi-join on the key."""
    upserts = latest.filter(F.col("_chg.kind") != "delete").select(
        F.col(key_col), *_upsert_cols(key_col, columns)
    )
    survivors = base.selectExpr(*_typed_sql(key_col, columns)).join(
        latest.select(key_col), key_col, "left_anti"
    )
    return survivors.unionByName(upserts)


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    columns: dict[str, str],
    tables: list[str] | None = None,
) -> DataFrame:
    """Merge a change batch into ``base``: the snapshot after applying,
    per key, the LATEST change in WAL order (seq, chg_idx) — upserts
    replace the row, deletes remove it, untouched keys pass through.

    ``columns`` maps output column name -> cast type; the result (and
    the base projection) has exactly ``key_col`` + these columns, in
    that order. ``tables`` restricts which normalized table_names apply
    (None = all). Assumes one logical key space across the applied
    tables (the hypertable-chunk case: all chunks of one table).
    """
    # latest feeds BOTH the upsert projection and the survivors
    # anti-join; without a checkpoint each consumer re-runs the whole
    # feed-parse lineage (the expensive part), doubling the parse
    # volume. The checkpointed frame is bounded by the batch's key
    # count, not the snapshot.
    latest = latest_changes(
        changes, key_col, columns.get(key_col, "string"), tables
    ).localCheckpoint(eager=False)
    return apply_latest(base, latest, key_col, columns)


def touched_groups(
    old_snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    group_col: str,
    key_type: str = "bigint",
    tables: list[str] | None = None,
) -> DataFrame:
    """Distinct group values a change batch can affect: the OLD group
    of every changed key (updates/deletes pull their group from the
    pre-apply snapshot — wal2json deletes carry no columns) plus the
    NEW group of every upsert. One column (``group_col``), distinct.
    Bounded by the batch size, never by the snapshot."""
    keyed = _keyed(
        changes, key_col, key_type, tables,
        f"try_element_at(row_str, {_sql_literal(group_col)}) AS _new_g",
        "kind",
    ).filter(F.col(key_col).isNotNull())
    old_side = (
        old_snapshot.select(key_col, group_col)
        .join(keyed.select(key_col).distinct(), key_col)
        .select(group_col)
    )
    new_side = keyed.filter(F.col("kind") != "delete").select(
        F.col("_new_g").cast(
            dict(old_snapshot.select(group_col).dtypes)[group_col]
        ).alias(group_col)
    )
    return old_side.unionByName(new_side).distinct()


def touched_groups_latest(
    old_snapshot: DataFrame,
    latest: DataFrame,
    key_col: str,
    group_col: str,
) -> DataFrame:
    """:func:`touched_groups` computed from an already-parsed
    :func:`latest_changes` frame instead of the raw batch — saves the
    streaming consumers a full batch re-parse per microbatch. Covers a
    SUBSET of touched_groups' raw-grain set (the new group of an
    upsert that a later same-batch delete erased is skipped), but
    every group whose CONTENT can differ post-apply is still present:
    old groups of all net-changed keys + new groups of net-surviving
    upserts. Refreshing a group whose content didn't change is a
    no-op, so the two sets refresh to identical views."""
    old_side = (
        old_snapshot.select(key_col, group_col)
        .join(latest.select(key_col), key_col)  # latest: one row/key
        .select(group_col)
    )
    new_side = latest.filter(F.col("_chg.kind") != "delete").select(
        F.try_element_at("_chg.row_str", F.lit(group_col)).cast(
            dict(old_snapshot.select(group_col).dtypes)[group_col]
        ).alias(group_col)
    )
    return old_side.unionByName(new_side).distinct()


def refresh_aggregates(
    matview: DataFrame,
    new_snapshot: DataFrame,
    groups: DataFrame | Column,
    group_col: str,
    agg_cols: list,
) -> DataFrame:
    """Incremental materialized-view maintenance (IVM): re-aggregate
    ONLY the groups a batch touched, carry every other matview row
    forward untouched. ``groups`` is the one-column frame from
    :func:`touched_groups`, or a never-NULL boolean predicate over
    ``group_col`` that holds on exactly the touched groups
    (:func:`in_groups`: a change set small enough to ride the plan as
    literals, so neither side is joined); ``agg_cols`` the aliased
    aggregate expressions (the view definition).

    Group matching is null-safe: a NULL group is refreshed like any
    other when a batch touches it (an ``=`` join never matches NULL,
    so its stale view row was carried forward for good).

    Why partial recompute instead of +/- deltas: wal2json deletes (and
    update-old-images) carry no value columns without REPLICA IDENTITY
    FULL, so subtractive maintenance has nothing to subtract — but the
    touched GROUPS are always derivable (old group via key join, new
    group from the upsert row). Cost is O(batch) + a scan of the
    touched groups' slice of the snapshot — with the snapshot
    partitioned/bucketed by group that slice is partition-pruned; the
    broadcast semi/anti joins never shuffle the snapshot or the view.
    A group whose last row was deleted drops out of both sides, i.e.
    the view row disappears, matching a full recompute."""
    if isinstance(groups, DataFrame):
        g = F.broadcast(groups.select(F.col(group_col).alias("_touched")))
        hit = F.col(group_col).eqNullSafe(F.col("_touched"))
        recomputed = new_snapshot.join(g, hit, "left_semi")
        kept = matview.join(g, hit, "left_anti")
    else:
        recomputed = new_snapshot.filter(groups)
        kept = matview.filter(~groups)
    return kept.unionByName(recomputed.groupBy(group_col).agg(*agg_cols))


def _sql_literal(v) -> str | None:
    """``v`` as a Spark SQL literal; None for a type with none here."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):  # repr round-trips; NaN/inf cast too
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, decimal.Decimal):
        return f"{v:f}BD"
    if isinstance(v, datetime.datetime):
        kind = "TIMESTAMP_NTZ" if v.tzinfo is None else "TIMESTAMP"
        return f"{kind}'{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    return None


def in_set(expr: str, values) -> str | None:
    """SQL for ``expr IN values`` as a never-NULL predicate (a NULL
    ``expr`` is not in the set; NULL values are ignored), or None when
    a value has no SQL literal. The set is SQL text, parsed in one JVM
    call: ``Column.isin`` makes one py4j literal per value, ~110 ms
    per 300 keys, more than the job the set saves. Beyond
    ``spark.sql.optimizer.inSetConversionThreshold`` (10) values the
    optimizer turns it into one ``InSet`` hash lookup."""
    lits = {_sql_literal(v) for v in values if v is not None}
    if None in lits:
        return None
    if not lits:
        return "FALSE"
    return f"coalesce({expr} IN ({', '.join(sorted(lits))}), FALSE)"


def in_groups(group_col: str, values, has_null: bool) -> Column:
    """:func:`refresh_aggregates`' predicate for a touched-group set:
    ``values`` plus the NULL group when ``has_null``."""
    sql = in_set(_q(group_col), values)
    hit = (
        F.expr(sql) if sql is not None
        else F.coalesce(
            F.col(group_col).isin([v for v in values if v is not None]),
            F.lit(False),
        )
    )
    return hit | F.col(group_col).isNull() if has_null else hit


def _latest_rows(rows, key_col: str):
    """:func:`latest_changes`' pick over collected change rows (a
    pyarrow Table with ``key_col``, ``_seq`` and ``_idx``): per
    non-NULL key, the row with the greatest ``(_seq, _idx)``, a NULL
    ordering first. The sort is stable, so of tied rows the last one
    collected wins: an unspecified winner, as in the aggregate."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = rows.filter(pc.is_valid(rows.column(key_col)))
    rows = rows.take(pc.sort_indices(
        rows, [("_seq", "ascending"), ("_idx", "ascending")],
        null_placement="at_start",
    ))
    pos = rows.append_column("_pos", pa.array(range(rows.num_rows)))
    last = pos.group_by(key_col).aggregate([("_pos", "max")])
    return rows.take(last.column("_pos_max"))


def stage_snapshot(
    base,
    changes: DataFrame,
    key_col: str,
    columns: dict[str, str],
    tables: list[str] | None = None,
    group_col: str | None = None,
    band_width: int | None = None,
):
    """Plan the new snapshot of one change batch by the size of its
    change set. Returns ``(snapshot, touched, bands)``: write
    ``snapshot`` (key_col + ``columns``, in that order, typed); AFTER
    the write, ``touched()`` gives the ``group_col`` groups the batch
    touched, in the form :func:`refresh_aggregates` takes, or None
    when it touched none (``touched`` is None without ``group_col``).
    All three are None when the batch changes no key: there is nothing
    to stage.

    ``base`` is the snapshot frame. On the banded layout
    (:func:`write_banded_snapshot`), ``band_width`` is the layout's
    width and ``base`` a function from a sorted list of band ids to
    the rows of those bands: only the bands that hold a changed key
    are read and restaged. ``snapshot`` then carries the ``band``
    column, to be written with ``partitionBy(band)``, one file per
    band, and ``bands`` lists the bands it replaces; a listed band
    with no rows in ``snapshot`` had every row deleted. ``bands`` is
    None on the plain layout.

    One bounded Arrow collect of at most ``LOOKUP_INLINE_MAX_ROWS + 1``
    change rows (the
    :func:`~speculare_pgcdc_spark.cdc.pipeline.normalize_hypertables`
    bound between a literal in the plan and a join) reads the batch
    with no shuffle: each row's key, WAL position, delete flag and
    uncast cells. It sizes the change set and, when it fits, IS the
    change set:

    * **Small** (at most the bound, counted in change rows, not keys):
      the driver picks each key's latest change (:func:`_latest_rows`,
      the order of :func:`latest_changes`), and the touched bands are
      :func:`band_of` of the picked keys, computed on the driver. The
      changed keys enter the plan as an ``InSet`` literal
      (:func:`in_set`) and the upserts as a LocalRelation, cast to
      ``columns`` in the plan, so a malformed cell fails the batch only
      on a change that wins. The snapshot is ``base`` minus the changed
      keys plus the upserts: no join and no exchange. One ``observe()``
      on the written plan collects the OLD groups of the changed keys
      and the NEW groups of the upserts, so the touched groups cost no
      join and no job either.
    * **Large**: the batch is aggregated by :func:`latest_changes`,
      checkpointed, and merged by the :func:`apply_latest` anti-join;
      :func:`touched_bands` (one job) gives the bands and
      :func:`touched_groups_latest` the groups.

    A plain snapshot is coalesced to the number of ``base``'s files, so
    it keeps its file count: the upserts' partitions would otherwise
    add files to it every batch. A banded one is one partition on the
    small path and one hash partition per touched band on the large
    path, so each band is written as one file either way."""
    key_t = columns.get(key_col, "string")
    ordered = _ordered(key_col, columns)
    rows = (
        _keyed(
            changes, key_col, key_t, tables,
            "seq AS _seq", "chg_idx AS _idx", "kind = 'delete' AS _del",
            *[f"try_element_at(row_str, {_sql_literal(c)}) AS {_q(c)}"
              for c in ordered[1:]],
        )
        .limit(pipeline.LOOKUP_INLINE_MAX_ROWS + 1)
        .toArrow()
    )
    changed = lat = None
    if rows.num_rows <= pipeline.LOOKUP_INLINE_MAX_ROWS:
        latest = _latest_rows(rows, key_col)
        keys = latest.column(key_col).to_pylist()
        if not keys:
            return None, None, None
        changed = in_set(f"CAST({_q(key_col)} AS {key_t})", keys)
    if changed is None:  # too many change rows, or a key with no literal
        lat = latest_changes(changes, key_col, key_t, tables).localCheckpoint(
            eager=False
        )
    bands = None
    if band_width is not None:
        bands = (
            touched_bands(lat, band_of(key_col, band_width))
            if lat is not None
            else sorted({math.floor(float(k) / band_width) for k in keys})
        )
        if not bands:
            return None, None, None
        base = base(bands)
    if lat is not None:
        snapshot = apply_latest(base, lat, key_col, columns)
        touched = None if group_col is None else (
            lambda: touched_groups_latest(base, lat, key_col, group_col)
        )
    else:
        snapshot, touched = _apply_literal(
            base, latest, changed, key_col, columns, group_col
        )
    if bands is None:
        return snapshot.coalesce(_n_files(base)), touched, None
    snapshot = snapshot.withColumn(BAND_COL, band_of(key_col, band_width))
    return (
        snapshot.coalesce(1) if lat is None
        else snapshot.repartition(len(bands), BAND_COL)
    ), touched, bands


def _apply_literal(base, latest, changed, key_col, columns, group_col):
    """:func:`stage_snapshot`'s small path: ``base`` minus the keys of
    the ``changed`` predicate plus the upserts of the driver-picked
    ``latest`` rows, and the observed touched groups."""
    import pyarrow.compute as pc

    ordered = _ordered(key_col, columns)
    key_t = columns.get(key_col, "string")
    upserts = base.sparkSession.createDataFrame(
        latest.filter(pc.invert(latest.column("_del"))).select(ordered),
        ", ".join(
            f"{_q(c)} {key_t if c == key_col else 'string'}" for c in ordered
        ),
    )
    # _row: 0 on an untouched base row, 1 on a changed key's old row
    # (dropped), 2 on an upsert
    cur = base.selectExpr(
        *_typed_sql(key_col, columns), f"CAST({changed} AS INT) AS _row"
    ).unionByName(
        upserts.selectExpr(*_typed_sql(key_col, columns), "2 AS _row")
    )
    if group_col is None:
        return cur.where("_row != 1").drop("_row"), None
    obs = Observation()
    g = _q(group_col)
    cur = cur.observe(
        obs,
        F.expr(f"collect_set(CASE WHEN _row > 0 THEN {g} END) AS groups"),
        F.expr(f"max(_row > 0 AND {g} IS NULL) AS has_null"),
    )

    def touched() -> Column | None:
        got = obs.get
        if not got["groups"] and not got["has_null"]:
            return None
        return in_groups(group_col, got["groups"], bool(got["has_null"]))

    return cur.where("_row != 1").drop("_row"), touched


def _n_files(df: DataFrame) -> int:
    """The files a dir frame reads (at least 1): a stage coalesced to
    its dir's count keeps the dir from gaining files every batch."""
    return max(1, len(df.inputFiles()))


def start_matview_query(
    changes_stream: DataFrame,
    snapshot_dir: str,
    matview_dir: str,
    checkpoint_dir: str,
    key_col: str,
    columns: dict[str, str],
    group_col: str,
    agg_cols_fn,
    tables: list[str] | None = None,
    query_name: str = "cdc-matview",
    available_now: bool = False,
):
    """The one snapshot consumer: maintain a parquet snapshot, and
    optionally an incrementally refreshed aggregate view, from the live
    change stream. The view is the streaming twin of q97's batch IVM:
    only touched groups are recomputed, every other view row is
    carried forward.

    **The view is optional.** With ``matview_dir``, ``group_col`` and
    ``agg_cols_fn`` all None the query keeps only the snapshot
    (``Engine.watch_snapshot``); passing some of the three but not all
    raises ``ValueError``. ``agg_cols_fn`` is a zero-arg callable
    returning the aliased aggregate expressions; the query calls it
    for each batch's view plan. (Unresolved Column objects can be
    reused across plans, as the fan-out query reuses its routing
    Column, so a callable that returns the same Columns every call is
    fine.)

    **The layout on disk decides banding.** A ``snapshot_dir`` holding
    the ``_band_width`` marker of :func:`write_banded_snapshot` is
    banded: each batch reads and restages only the bands that hold a
    changed key, and a band no batch touches keeps its files. Any other
    dir is one plain parquet dir, rewritten whole. The marker is read
    once, at query start.

    Per batch, :func:`stage_snapshot` writes the snapshot stage, and
    the view stage re-aggregates the touched groups of the new
    snapshot (the staged dir, or the untouched live bands plus the
    staged ones), read back, never re-planned. A batch of at most
    ``LOOKUP_INLINE_MAX_ROWS`` change rows over a one-file plain
    snapshot runs three Spark jobs: the bounded collect of the change
    rows, the snapshot write and the view write (two without a view;
    four on a multi-file snapshot, whose view aggregate shuffles, as
    over a banded one).
    Each key's latest change is picked on the driver, and the changed
    keys, touched bands and touched groups ride the plan as literals,
    because at these sizes a job costs more than the data it moves. A
    batch that changes no key stages nothing, and one that touches no
    group stages no view. A larger batch keeps the aggregate and the
    joins: its key set would not fit in the plan.

    Commit and replay follow :mod:`~speculare_pgcdc_spark.cdc.commit`:
    the view commits first, then the snapshot dir, or the touched bands
    one at a time. The full overwrite of a plain snapshot is
    correct-but-local: a durable deployment swaps this writer for a
    table format with row-level merge; the upstream plan is unchanged.
    """
    view = (matview_dir, group_col, agg_cols_fn)
    if any(v is None for v in view) and any(v is not None for v in view):
        raise ValueError(
            "a view needs matview_dir, group_col and agg_cols_fn: pass "
            "all three, or none for a snapshot alone"
        )
    dirs = Dirs(changes_stream.sparkSession)
    width = read_band_width(snapshot_dir)
    empty = ", ".join(
        f"{_q(c)} {columns.get(c, 'string')}"
        for c in _ordered(key_col, columns)
    )

    def plan(batch_df: DataFrame, batch) -> list[int] | None:
        if width is None:
            base = dirs.read(snapshot_dir)
        else:
            live = band_dirs(snapshot_dir)

            def base(bands: list[int]) -> DataFrame:
                return read_bands(dirs, snapshot_dir,
                                  [live[b] for b in bands if b in live], empty)
        snapshot, touched, bands = stage_snapshot(
            base, batch_df, key_col, columns, tables, group_col, width
        )
        if snapshot is None:
            return None
        # BOTH stages land before either swaps — the large path's
        # touched groups read the PRE-swap snapshot
        stage = batch.staged(snapshot_dir)
        dirs.stage(snapshot, snapshot_dir, batch,
                   *([] if width is None else [BAND_COL]))
        groups = touched and touched()
        if groups is None:
            return bands
        if width is None:
            new = dirs.read(snapshot_dir, stage)
        else:  # the untouched live bands plus the staged ones
            new = read_bands(
                dirs, snapshot_dir,
                [d for b, d in live.items() if b not in bands]
                + list(band_dirs(stage).values()),
                empty,
            )
        # read in at most one partition per file: a snapshot staged as
        # one file is then one partition, and the view's aggregate
        # needs no exchange (one job fewer)
        new = new.coalesce(_n_files(new))
        mv_old = dirs.read(matview_dir)
        mv_new = refresh_aggregates(
            mv_old, new, groups, group_col, agg_cols_fn()
        )
        dirs.stage(
            mv_new.select(*mv_old.columns).coalesce(_n_files(mv_old)),
            matview_dir,
            batch,
        )
        return bands

    # view first, snapshot second: a crash between the two must leave
    # the PRE-batch snapshot, so the replay can still derive the old
    # groups (cdc.commit, "Order")
    units = [] if matview_dir is None else [matview_dir]
    return start_consumer(
        changes_stream, plan, checkpoint_dir, query_name, available_now,
        [*units, snapshot_dir] if width is None else units,
        band_root=None if width is None else snapshot_dir,
    )


# ---------------------------------------------------------------------------
# Banded snapshot layout: the partition-confined alternative to the
# full-snapshot rewrite. A plain snapshot pays a snapshot-scale parquet
# WRITE per microbatch, a cost that grows with the snapshot, not the
# batch. The banded layout stores the snapshot range-partitioned into
# key BANDS (`band=<i>` subdirs, band = floor(key / band_width)), and
# start_matview_query rewrites ONLY the bands that contain changed keys
# when the snapshot dir holds the layout's `_band_width` marker. WAL
# batches have key-range locality natively — commit order means
# inserts carry sequence-adjacent keys, and the reference's hypertable
# chunks (src/cdc/mod.rs:11-18) ARE time-range partitions — so a
# txn-ordered feed touches a small, contiguous band set per batch. A
# key-scrambled feed degrades gracefully to the full rewrite (every
# band touched), never to wrong answers.
#
# At warehouse scale this is exactly partition-confined MERGE: bands
# map to table-format partitions, the per-band dir swap to a
# partition-level commit (cdc.commit swaps the touched bands one at a
# time).
# ---------------------------------------------------------------------------


def band_of(key_col: str, band_width: int):
    """Band id of a (numeric, |key| < 2^53) key: floor(key / width)."""
    return F.floor(F.col(key_col).cast("double") / F.lit(band_width)).cast(
        "int"
    )


#: auto band sizing target: rows per band when neither n_bands nor
#: band_width is passed. ~500k rows keeps a band's parquet rewrite in
#: the tens-of-MB range at typical CDC row widths — small enough that
#: a touched-band rewrite is cheap, large enough that band COUNT (and
#: with it per-batch band-dir bookkeeping) stays in the hundreds even
#: at 10^9-row snapshots.
TARGET_ROWS_PER_BAND = 500_000
#: auto band-count clamp (4096 dirs is already generous; beyond that
#: the per-band fixed costs dominate — see SCD2_BAND_PROBE_r13)
MAX_AUTO_BANDS = 4096


def write_banded_snapshot(
    df: DataFrame,
    root: str,
    key_col: str,
    n_bands: int | None = None,
    band_width: int | None = None,
    target_rows_per_band: int = TARGET_ROWS_PER_BAND,
) -> int:
    """Seed the banded layout: parquet partitioned by ``band=<i>`` with
    band_width sized so the CURRENT key range spans the band count
    (keys inserted later simply grow new band dirs). The chosen width
    is persisted in a ``_band_width`` marker (underscore-prefixed ->
    invisible to parquet readers) so consumers band identically
    forever — a re-derived width would silently re-home every key;
    :func:`start_matview_query` reads the marker, the caller never
    re-supplies the choice.

    Band-count selection (round-13 verdict #5 — defaults instead of a
    hand-picked count): when ``n_bands`` is omitted it derives from
    the SEED SIZE as ``ceil(rows / target_rows_per_band)`` clamped to
    [1, 4096], so a small seed gets few bands (no thousand-dir layout
    for 60k rows) and a large one lands near the target rows/band.
    Pass ``n_bands`` to pin a count, or ``band_width`` to pin the
    width itself (required for an EMPTY seed, e.g. a from-scratch
    snapshot, where no key range or size exists to derive from)."""
    if band_width is not None:
        width = band_width
        part_bands = n_bands or 32
    else:
        cnt, lo, hi = df.agg(
            F.count(F.lit(1)),
            F.min(F.col(key_col).cast("bigint")),
            F.max(F.col(key_col).cast("bigint")),
        ).first()
        if lo is None:
            raise ValueError(
                "empty seed frame: pass band_width explicitly (no key "
                "range to derive it from)"
            )
        if n_bands is None:
            n_bands = max(
                1,
                min(
                    MAX_AUTO_BANDS,
                    -(-int(cnt) // max(1, target_rows_per_band)),
                ),
            )
        width = max(1, (int(hi) - min(int(lo), 0)) // n_bands + 1)
        part_bands = n_bands
    (
        df.withColumn(BAND_COL, band_of(key_col, width))
        # one file per band (see the consumer's small-file note)
        .repartition(part_bands, F.col(BAND_COL))
        .write.partitionBy(BAND_COL)
        .mode("overwrite")
        .parquet(root)
    )
    with open(os.path.join(root, "_band_width"), "w") as f:
        f.write(str(width))
    return width


def read_band_width(root: str) -> int | None:
    """The band width of banded ``root``; None when ``root`` holds no
    ``_band_width`` marker (the plain layout)."""
    try:
        with open(os.path.join(root, "_band_width")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_banded_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """The logical snapshot (band partition column dropped)."""
    return spark.read.parquet(root).drop(BAND_COL)


def band_dirs(root: str) -> dict[int, str]:
    """The band dirs under a banded root (or under its stage), by
    band."""
    pre = f"{BAND_COL}="
    return {
        int(e[len(pre):]): os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith(pre)
    }


def read_bands(
    dirs: Dirs, root: str, paths: list[str], schema: str
) -> DataFrame:
    """The rows under the band dirs ``paths`` of banded ``root`` or of
    its stage (band column dropped); no rows, typed by the DDL
    ``schema``, when ``paths`` is empty. Reads ONLY those dirs:
    partition discovery over the full root lists every band, the
    dominant fixed cost once bands number in the hundreds
    (SCD2_BAND_PROBE_r13). ``dirs`` keeps ``root``'s schema, so only
    a query run's first read infers it."""
    if not paths:
        return dirs.spark.createDataFrame([], schema)
    return dirs.read(root, *paths).drop(BAND_COL)


def touched_bands(df: DataFrame, band) -> list[int]:
    """The distinct values of the ``band`` column expression, sorted."""
    return sorted(
        r[0] for r in df.select(band.alias("_b")).distinct().collect()
    )
