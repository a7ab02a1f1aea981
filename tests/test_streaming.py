"""Streaming behavior tests (SURVEY §5.3) — the Oracle=N semantics:
stream==batch parity, at-least-once restart from checkpoint, watermark
late-data drop, stateful dedup, arbitrary state, per-subscriber fan-out.

All tests drive real StreamingQuery instances over file sources with
explicit batch boundaries (write file -> processAllAvailable), so
results are deterministic.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import pytest
from pyspark.sql import functions as F

from speculare_pgcdc_spark.cdc.feedgen import (
    FEED_TABLES,
    lookup_df,
    write_feed,
)
from speculare_pgcdc_spark.cdc.pipeline import (
    normalize_hypertables,
    parse_wal2json,
    route,
    subscriptions_df,
)
from speculare_pgcdc_spark.streaming.source import file_change_feed
from speculare_pgcdc_spark.streaming.windows import (
    dedup_within_watermark,
    running_counts,
    sliding_counts,
    tumbling_counts,
)

pytestmark = pytest.mark.streaming


def _write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENT_SCHEMA = "ts timestamp, user_id bigint, event_id bigint"


def _event(ts: str, user: int, eid: int) -> dict:
    return {"ts": ts, "user_id": user, "event_id": eid}


# ---------------------------------------------------------------------------


def test_stream_pipeline_matches_batch(spark, sf_dir, tmp_path):
    feed_dir = str(tmp_path / "feed")
    write_feed(spark, sf_dir, feed_dir, num_files=4)

    batch = parse_wal2json(
        spark.read.text(feed_dir).withColumnRenamed("value", "payload")
    )
    expected = batch.count()

    stream = parse_wal2json(
        file_change_feed(spark, feed_dir, max_files_per_trigger=2)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT COUNT(*) n FROM t_parity").first().n
    assert got == expected and expected > 0


def test_fanout_routing_and_outbox(spark, sf_dir, tmp_path):
    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "outbox")
    write_feed(spark, sf_dir, feed_dir, num_files=2)
    subs = subscriptions_df(
        spark,
        [
            (1, "insert,update:events_a:event_type.in.click,view"),
            (2, "*:events_b"),
        ],
        FEED_TABLES,
    )
    lookup = lookup_df(spark)

    from speculare_pgcdc_spark.streaming.fanout import (
        outbox_deliver,
        start_fanout_query,
    )

    stream = normalize_hypertables(
        parse_wal2json(file_change_feed(spark, feed_dir)), lookup
    )
    q = start_fanout_query(
        stream, subs, outbox_deliver(out_dir), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # expected per-sub counts from the batch path
    batch = normalize_hypertables(
        parse_wal2json(
            spark.read.text(feed_dir).withColumnRenamed("value", "payload")
        ),
        lookup,
    )
    expected = {
        r.sub_id: r.n
        for r in route(batch, subs)
        .groupBy("sub_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert expected, "routing should match some subscribers"
    for sub_id, n in expected.items():
        with open(os.path.join(out_dir, str(sub_id), "outbox.jsonl")) as f:
            lines = [ln for ln in f if ln.strip()]
        assert len(lines) == n
        # delivered payloads are the change objects themselves
        assert all("kind" in json.loads(ln) for ln in lines[:5])


def test_restart_from_checkpoint_no_loss(spark, sf_dir, tmp_path):
    """The at-least-once contract (replication.rs:198-203 analog):
    stop mid-stream, restart from the same checkpoint, nothing is lost
    and nothing already-committed is re-delivered to the memory sink."""
    feed_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    _write_jsonl(
        f"{feed_dir}/f1.json",
        [{"payload": None}],  # placeholder replaced below
    )
    # use simple event rows rather than CDC payloads for clarity
    os.remove(f"{feed_dir}/f1.json")
    _write_jsonl(
        f"{feed_dir}/f1.json",
        [
            _event("2024-01-01 00:00:00", 1, 1),
            _event("2024-01-01 00:01:00", 1, 2),
        ],
    )

    out_dir = str(tmp_path / "out")

    def start():
        src = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(feed_dir)
        )
        return (
            src.writeStream.format("json")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = sorted(
        r.event_id
        for r in spark.read.schema(EVENT_SCHEMA).json(out_dir).collect()
    )
    assert first == [1, 2]

    # new data arrives while the query is down
    _write_jsonl(
        f"{feed_dir}/f2.json",
        [
            _event("2024-01-01 00:02:00", 1, 3),
            _event("2024-01-01 00:03:00", 2, 4),
        ],
    )
    q = start()  # restart from the same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        r.event_id
        for r in spark.read.schema(EVENT_SCHEMA).json(out_dir).collect()
    )
    # file sink + commit log: every event exactly once across the restart
    # (no loss, no duplicates — the checkpoint carried the offsets)
    assert rows == [1, 2, 3, 4]


def test_watermark_drops_late_data(spark, tmp_path):
    """T4: a row older than (max event time - watermark) arriving in a
    later batch must not extend any window (withWatermark + append)."""
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)

    src = (
        spark.readStream.schema(EVENT_SCHEMA + ", value double")
        .option("maxFilesPerTrigger", 1)
        .json(feed_dir)
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def ev(ts, eid):
        return {"ts": ts, "user_id": 1, "event_id": eid, "value": 1.0}

    try:
        # batch 1: two rows in window [00:00, 01:00) + one far-future row
        # that advances the watermark beyond that window
        _write_jsonl(
            f"{feed_dir}/f1.json",
            [
                ev("2024-01-01 00:10:00", 1),
                ev("2024-01-01 00:20:00", 2),
                ev("2024-01-01 05:00:00", 3),
            ],
        )
        q.processAllAvailable()
        # batch 2: anything (forces window finalization under the
        # advanced watermark)
        _write_jsonl(f"{feed_dir}/f2.json", [ev("2024-01-01 05:10:00", 4)])
        q.processAllAvailable()
        closed = {
            (r.w.start.isoformat(), r.c)
            for r in spark.sql("SELECT * FROM t_late").collect()
        }
        assert ("2024-01-01T00:00:00", 2) in closed

        # batch 3: LATE row for the closed window -> must be dropped
        _write_jsonl(f"{feed_dir}/f3.json", [ev("2024-01-01 00:30:00", 5)])
        q.processAllAvailable()
        # batch 4: advance again; closed window must NOT be re-emitted
        # with c=3
        _write_jsonl(f"{feed_dir}/f4.json", [ev("2024-01-01 06:10:00", 6)])
        q.processAllAvailable()
        final = {
            (r.w.start.isoformat(), r.c)
            for r in spark.sql("SELECT * FROM t_late").collect()
        }
        assert ("2024-01-01T00:00:00", 2) in final
        assert ("2024-01-01T00:00:00", 3) not in final
    finally:
        q.stop()


def test_dedup_within_watermark(spark, tmp_path):
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(feed_dir)
    )
    deduped = dedup_within_watermark(src, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_jsonl(
            f"{feed_dir}/f1.json",
            [
                _event("2024-01-01 00:00:00", 1, 100),
                _event("2024-01-01 00:05:00", 1, 100),  # same-batch dup
            ],
        )
        q.processAllAvailable()
        _write_jsonl(
            f"{feed_dir}/f2.json",
            [_event("2024-01-01 00:10:00", 1, 100)],  # within-watermark dup
        )
        q.processAllAvailable()
        n = spark.sql(
            "SELECT COUNT(*) n FROM t_dedup WHERE event_id = 100"
        ).first().n
        assert n == 1
    finally:
        q.stop()


def test_apply_in_pandas_with_state_running_count(spark, tmp_path):
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(feed_dir)
    )
    counted = running_counts(src)
    q = (
        counted.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _write_jsonl(
            f"{feed_dir}/f1.json",
            [
                _event("2024-01-01 00:00:00", 7, 1),
                _event("2024-01-01 00:01:00", 7, 2),
                _event("2024-01-01 00:02:00", 8, 3),
            ],
        )
        q.processAllAvailable()
        _write_jsonl(
            f"{feed_dir}/f2.json",
            [_event("2024-01-01 00:03:00", 7, 4)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT user_id, MAX(events) e FROM t_state GROUP BY user_id"
        ).collect()
        got = {r.user_id: r.e for r in rows}
        # state persisted across microbatches: user 7 reached 3 total
        assert got == {7: 3, 8: 1}
    finally:
        q.stop()


def test_streaming_tumbling_window_matches_batch(spark, sf_dir, tmp_path):
    """T1/T6 stream-batch parity: the same tumbling aggregate over the
    events fixture streamed file-by-file equals the batch result."""
    from speculare_pgcdc_spark.catalog import table as t

    events = t(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    stream_dir = str(tmp_path / "events_stream")
    events.coalesce(4).write.mode("overwrite").parquet(stream_dir)

    src = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = tumbling_counts(src, watermark="100 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_tumble")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.w.start, r.event_type): (r.c, r.s)
            for r in spark.sql("SELECT * FROM t_tumble").collect()
        }
    finally:
        q.stop()
    batch = tumbling_counts(events)
    expected = {
        (r.w.start, r.event_type): (r.c, r.s) for r in batch.collect()
    }
    assert got == expected


def test_streaming_sliding_window_matches_batch(spark, sf_dir, tmp_path):
    """T2 stream-batch parity for overlapping windows (1h size / 30min
    slide): every row lands in exactly 2 windows in both modes."""
    from speculare_pgcdc_spark.catalog import table as t

    events = t(spark, sf_dir, "events").select("ts", "event_type")
    stream_dir = str(tmp_path / "events_stream")
    events.coalesce(4).write.mode("overwrite").parquet(stream_dir)

    src = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = sliding_counts(src)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_slide")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.w.start, r.event_type): r.c
            for r in spark.sql("SELECT * FROM t_slide").collect()
        }
    finally:
        q.stop()
    expected = {
        (r.w.start, r.event_type): r.c
        for r in sliding_counts(events).collect()
    }
    assert got == expected
    # overlap invariant: total window memberships == 2x row count
    assert sum(got.values()) == 2 * events.count()


def _wal2json_line(kind: str, tbl: str, names: list, values: list) -> dict:
    return {
        "change": [
            {
                "kind": kind,
                "table": tbl,
                "columnnames": names,
                "columnvalues": values,
            }
        ]
    }


def test_subscription_update_across_restart(spark, tmp_path):
    """R17 analog: the subscription registry is the static side of the
    routing join; adding a subscriber means restarting the query from
    the same checkpoint with the rebuilt broadcast side. Committed
    offsets are not reprocessed, so the new subscriber sees only events
    after its registration — exactly the reference's connect semantics
    (ws_connected, api/ws_handler.rs:79-143)."""
    from speculare_pgcdc_spark.streaming.fanout import (
        outbox_deliver,
        start_fanout_query,
    )

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    def payload_file(path, msgs):
        with open(path, "w") as f:
            for m in msgs:
                f.write(json.dumps(m) + "\n")

    payload_file(
        f"{feed_dir}/f1.json",
        [
            _wal2json_line("insert", "events_a", ["id"], [1]),
            _wal2json_line("insert", "events_a", ["id"], [2]),
        ],
    )

    def run(subs_spec):
        subs = subscriptions_df(spark, subs_spec, FEED_TABLES)
        stream = normalize_hypertables(
            parse_wal2json(file_change_feed(spark, feed_dir)),
            lookup_df(spark),
        )
        q = start_fanout_query(stream, subs, outbox_deliver(out_dir), ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run([(1, "insert:events_a")])

    # subscriber 2 registers while the query is down; new events arrive
    payload_file(
        f"{feed_dir}/f2.json",
        [_wal2json_line("insert", "events_a", ["id"], [3])],
    )
    run([(1, "insert:events_a"), (2, "*:events_a")])

    def outbox_lines(sub_id):
        p = os.path.join(out_dir, str(sub_id), "outbox.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [ln for ln in f if ln.strip()]

    # sub 1 saw every event exactly once across the restart
    assert len(outbox_lines(1)) == 3
    # sub 2 only saw events after registration (committed offsets are
    # not replayed to it)
    assert len(outbox_lines(2)) == 1


def test_subscription_applies_mid_stream(spark, tmp_path):
    """Live-registry semantics (api/ws_handler.rs:79-143): the routing
    side is re-read per microbatch, so a subscribe()/unsubscribe() on a
    RUNNING watch() applies on the next batch — no restart. Subscriber 2
    registers mid-stream and sees only post-registration events;
    subscriber 1 is unsubscribed mid-stream and misses the tail."""
    from speculare_pgcdc_spark.engine import Engine

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    def payload_file(name, msgs):
        with open(os.path.join(feed_dir, name), "w") as f:
            for m in msgs:
                f.write(json.dumps(m) + "\n")

    eng = Engine(spark=spark, tables=FEED_TABLES)
    eng.subscribe(1, "insert:events_a")
    payload_file(
        "f1.json",
        [
            _wal2json_line("insert", "events_a", ["id"], [1]),
            _wal2json_line("insert", "events_a", ["id"], [2]),
        ],
    )
    q = eng.watch(feed_dir, out_dir, ckpt, lookup=lookup_df(spark))
    try:
        q.processAllAvailable()

        # registry changes on the LIVE query: 2 joins, 1 leaves
        eng.subscribe(2, "*:events_a")
        eng.unsubscribe(1)
        payload_file(
            "f2.json",
            [_wal2json_line("insert", "events_a", ["id"], [3])],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    def outbox_lines(sub_id):
        p = os.path.join(out_dir, str(sub_id), "outbox.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [ln for ln in f if ln.strip()]

    # sub 1: the pre-change batch only (unsubscribe applied live)
    assert len(outbox_lines(1)) == 2
    # sub 2: only events after its mid-stream registration
    assert len(outbox_lines(2)) == 1


def _count_router(monkeypatch):
    """Count the routers start_fanout_query compiles: the list of the
    frames each was compiled from, and of the routers themselves."""
    from speculare_pgcdc_spark.cdc import pipeline as pl

    compiled, real = [], pl.router

    def counting(subs):
        compiled.append(real(subs))
        return compiled[-1]

    monkeypatch.setattr(pl, "router", counting)
    return compiled


def test_watch_compiles_router_once_per_registry_change(
    spark, tmp_path, monkeypatch
):
    """A watch of three batches with one subscribe between batches 2
    and 3: a steady batch builds neither the subscriptions frame nor
    the router, and the registry change is routed from the very next
    batch. The new subscriber receives batch 3 only."""
    from speculare_pgcdc_spark import engine as engine_mod
    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.streaming.fanout import read_outbox

    compiled = _count_router(monkeypatch)
    frames, real_df = [], engine_mod.subscriptions_df
    monkeypatch.setattr(
        engine_mod, "subscriptions_df",
        lambda *a: frames.append(real_df(*a)) or frames[-1],
    )
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    os.makedirs(feed)
    eng = Engine(spark=spark, tables=FEED_TABLES)
    eng.subscribe(1, "insert:events_a")
    q = eng.watch(feed, out, str(tmp_path / "ckpt"), exactly_once=True)
    builds = []
    try:
        for i in range(3):
            if i == 2:
                eng.subscribe(2, "*:events_a")
            # publish whole: the file source skips dot files
            tmp = f"{feed}/.f{i}"
            with open(tmp, "w") as f:
                f.write(json.dumps(
                    _wal2json_line("insert", "events_a", ["id"], [i])
                ) + "\n")
            os.utime(tmp, (1_700_000_000 + i, 1_700_000_000 + i))
            os.replace(tmp, f"{feed}/f{i}.json")
            q.processAllAvailable()
            builds.append((len(frames), len(compiled)))
    finally:
        q.stop()
    assert builds == [(1, 1), (1, 1), (2, 2)]
    ids = lambda sid: [  # noqa: E731
        json.loads(ln)["columnvalues"][0] for ln in read_outbox(out, sid)
    ]
    assert ids(1) == [0, 1, 2]
    assert ids(2) == [2]
    assert os.listdir(f"{out}/2") == ["batch-2.jsonl"]


def test_watch_join_path_compiles_once(spark, tmp_path, monkeypatch):
    """A registry over LOOKUP_INLINE_MAX_ROWS routes through the
    broadcast join: a watch over three batches pays the registry's
    sizing collect once, not once per batch, and every batch's outbox
    equals the literal path's."""
    from speculare_pgcdc_spark.cdc import pipeline as pl
    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.plans import plan_string

    feed = str(tmp_path / "feed")
    _write_batches(feed, [
        [_wal2json_line("insert", "events_a", ["id", "v"], [str(i), "x"]),
         _wal2json_line("update", "events_a", ["id", "v"], [str(i), "y"]),
         _wal2json_line("delete", "events_b", ["id"], [str(i)])]
        for i in range(3)
    ])
    probe = parse_wal2json(spark.createDataFrame(
        [(json.dumps(_wal2json_line("insert", "events_a", ["id"], ["1"])),)],
        "payload string",
    )).withColumnRenamed("table", "table_name")

    def run(name, bound):
        monkeypatch.setattr(pl, "LOOKUP_INLINE_MAX_ROWS", bound)
        compiled = _count_router(monkeypatch)
        eng = Engine(spark=spark, tables=FEED_TABLES)
        eng.subscribe(1, "insert:events_a")
        eng.subscribe(2, "*:events_a:id.eq.1")
        eng.subscribe(3, "delete,update:events_b")
        out = tmp_path / name
        q = eng.watch(feed, str(out), str(tmp_path / f"ckpt-{name}"),
                      exactly_once=True, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        monkeypatch.undo()
        assert len(compiled) == 1
        literal = "explode(transform(filter(" in plan_string(
            compiled[0](probe))
        assert literal == (bound > 1)
        return {
            (d.name, b.name): b.read_text()
            for d in out.iterdir() for b in d.iterdir()
        }

    join = run("join", 1)
    assert join == run("literal", pl.LOOKUP_INLINE_MAX_ROWS)
    assert {b for _, b in join} == {
        "batch-0.jsonl", "batch-1.jsonl", "batch-2.jsonl"}
    assert {d for d, _ in join} == {"1", "2", "3"}


def test_wal_poll_source_end_to_end(spark, tmp_path):
    """R1-R7 realized as a Python Data Source: poll-with-cursor source
    feeds the CDC pipeline; new rows appear in later microbatches; the
    acked LSN advances only after batch commit (at-least-once)."""
    from speculare_pgcdc_spark.streaming import wal_source

    db = str(tmp_path / "pg_standin.sqlite")
    wal_source.ensure_wal_tables(db)
    wal_source.register(spark)

    def insert(lsn, table, rid):
        wal_source.append_wal(
            db, lsn, json.dumps(_wal2json_line("insert", table, ["id"], [rid]))
        )

    insert(10, "events_a", 1)
    insert(20, "events_a", 2)

    src = (
        spark.readStream.format("wal_poll").option("path", db).load()
    )
    parsed = parse_wal2json(src, payload_col="payload")
    q = (
        parsed.writeStream.format("memory")
        .queryName("t_wal")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT COUNT(*) n FROM t_wal").first().n == 2
        # the ack LAGS processing (sent when the next batch commits) —
        # exactly the at-least-once contract: never ahead of delivery
        assert wal_source.acked_lsn(db) <= 20

        insert(30, "events_b", 3)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT table, kind FROM t_wal ORDER BY table"
        ).collect()
        assert [r.table for r in rows] == ["events_a", "events_a", "events_b"]
        # batch 1's offsets are acked once batch 2 has committed
        assert 20 <= wal_source.acked_lsn(db) <= 30
    finally:
        q.stop()


def test_idempotent_outbox_exactly_once_on_replay(spark, tmp_path):
    """Replaying the same batch_id (crash-between-deliver-and-ack) must
    not duplicate deliveries through the idempotent adapter, while the
    plain append outbox shows the duplicate — the at-least-once vs
    exactly-once sink contrast."""
    from speculare_pgcdc_spark.streaming.fanout import (
        fanout_batch,
        idempotent_outbox_deliver,
        outbox_deliver,
        read_outbox,
    )

    routed = spark.createDataFrame(
        [(1, '{"kind":"insert","n":%d}' % i) for i in range(4)],
        "sub_id int, change_json string",
    )
    idem_dir = str(tmp_path / "idem")
    app_dir = str(tmp_path / "app")
    idem, app = idempotent_outbox_deliver(idem_dir), outbox_deliver(app_dir)

    fanout_batch(routed, idem, batch_id=7)
    fanout_batch(routed, app, batch_id=7)
    # crash + replay of the SAME microbatch
    fanout_batch(routed, idem, batch_id=7)
    fanout_batch(routed, app, batch_id=7)
    # next batch proceeds
    nxt = spark.createDataFrame(
        [(1, '{"kind":"insert","n":99}')], "sub_id int, change_json string"
    )
    fanout_batch(nxt, idem, batch_id=8)

    assert len(read_outbox(idem_dir, 1)) == 5   # 4 + 1, no duplicates
    assert len(read_outbox(app_dir, 1)) == 8    # 4 duplicated


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """T6+/J8 streaming twin: a stream-stream self interval join equals
    the batch Q14 pair set (watermarked state-bounded join)."""
    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.streaming.windows import interval_stream_join

    events = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .filter(F.col("user_id") < 20)
    )
    stream_dir = str(tmp_path / "events_stream")
    events.coalesce(3).write.mode("overwrite").parquet(stream_dir)

    def src():
        return (
            spark.readStream.schema("user_id bigint, ts timestamp, event_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    joined = interval_stream_join(src(), src())
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_a, r.event_b)
            for r in spark.sql("SELECT * FROM t_ssj").collect()
        }
    finally:
        q.stop()

    a, b = events.alias("a"), events.alias("b")
    expected = {
        (r.event_a, r.event_b)
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        .collect()
    }
    assert expected and got == expected


def test_streaming_session_window_matches_batch(spark, sf_dir, tmp_path):
    """T3 stream-batch parity: session windows (30-min gap) computed
    over the streamed fixture equal the batch session_window result."""
    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.streaming.windows import session_counts

    events = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts")
        .filter(F.col("user_id") < 30)
    )
    stream_dir = str(tmp_path / "events_stream")
    events.coalesce(3).write.mode("overwrite").parquet(stream_dir)

    src = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        session_counts(src)
        .writeStream.format("memory")
        .queryName("t_sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.w.start, r.w.end, r.n)
            for r in spark.sql("SELECT * FROM t_sess").collect()
        }
    finally:
        q.stop()
    expected = {
        (r.user_id, r.w.start, r.w.end, r.n)
        for r in session_counts(events).collect()
    }
    assert expected and got == expected


def test_supervised_restart_resumes_and_delivers_exactly_once(
    spark, tmp_path
):
    """R22: a poison delivery crashes the query; the supervisor backs
    off linearly and restarts from the SAME checkpoint; with the
    idempotent outbox the replayed batch is delivered exactly once."""
    from speculare_pgcdc_spark.streaming.fanout import (
        fanout_batch,
        idempotent_outbox_deliver,
        read_outbox,
    )
    from speculare_pgcdc_spark.streaming.supervise import run_supervised

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)
    _write_jsonl(
        f"{feed_dir}/f1.json",
        [_event("2024-01-01 00:00:00", 1, i) for i in range(5)],
    )

    deliver = idempotent_outbox_deliver(out_dir)
    crashes = {"left": 1}

    def process(batch_df, batch_id):
        routed = batch_df.selectExpr(
            "1 AS sub_id", "to_json(struct(*)) AS change_json"
        )
        if crashes["left"] > 0:
            crashes["left"] -= 1
            raise RuntimeError("poison delivery (simulated sink crash)")
        fanout_batch(routed, deliver, batch_id)

    def start():
        src = spark.readStream.schema(EVENT_SCHEMA).json(feed_dir)
        return (
            src.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .start()
        )

    backoffs = []
    run_supervised(
        start, backoff_seconds=3.0, sleep=backoffs.append, drain=True
    )
    assert backoffs == [3.0]  # one crash, linear first step
    assert crashes["left"] == 0
    assert len(read_outbox(out_dir, 1)) == 5  # replayed batch, no dupes


def test_read_outbox_numeric_batch_order(tmp_path):
    from speculare_pgcdc_spark.streaming.fanout import (
        idempotent_outbox_deliver,
        read_outbox,
    )

    deliver = idempotent_outbox_deliver(str(tmp_path))
    for b in range(12):
        deliver(1, [f"payload-{b}"], b)
    got = read_outbox(str(tmp_path), 1)
    assert got == [f"payload-{b}" for b in range(12)]  # 10 after 9, not after 1


def test_wal_poll_duplicate_lsns_not_skipped(spark, tmp_path):
    """A batch limit cutting inside a run of equal LSNs must not strand
    the remaining duplicates behind the cursor."""
    from speculare_pgcdc_spark.streaming import wal_source

    db = str(tmp_path / "wal.sqlite")
    wal_source.ensure_wal_tables(db)
    for i in range(3):
        wal_source.append_wal(db, 50, f'{{"change":[],"i":{i}}}')
    wal_source.append_wal(db, 60, '{"change":[]}')

    reader = wal_source.WalPollReader({"path": db, "batchlimit": "1"})
    rows1, off1 = reader.read({"lsn": 0})
    rows1 = list(rows1)
    # limit=1 distinct LSN -> ALL THREE lsn=50 rows in one batch
    assert [r[0] for r in rows1] == [50, 50, 50]
    assert off1 == {"lsn": 50}
    rows2, off2 = reader.read(off1)
    assert [r[0] for r in list(rows2)] == [60] and off2 == {"lsn": 60}
    # replay of the first range returns the full range regardless of limit
    replay = list(reader.readBetweenOffsets({"lsn": 0}, {"lsn": 50}))
    assert len(replay) == 3


def test_available_now_drains_and_terminates(spark, tmp_path):
    """Trigger.AvailableNow: the fan-out processes everything committed
    so far and terminates on its own; a second drain resumes from the
    checkpoint and sees only new data."""
    from speculare_pgcdc_spark.streaming.fanout import (
        read_outbox,
        idempotent_outbox_deliver,
        start_fanout_query,
    )

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    def payload_file(path, n0, n):
        with open(path, "w") as f:
            for i in range(n0, n0 + n):
                f.write(
                    json.dumps(
                        _wal2json_line("insert", "events_a", ["id"], [i])
                    )
                    + "\n"
                )

    payload_file(f"{feed_dir}/f1.json", 0, 3)
    subs = subscriptions_df(spark, [(1, "insert:events_a")], FEED_TABLES)

    def drain():
        stream = normalize_hypertables(
            parse_wal2json(file_change_feed(spark, feed_dir)),
            lookup_df(spark),
        )
        q = start_fanout_query(
            stream, subs, idempotent_outbox_deliver(out_dir), ckpt,
            available_now=True,
        )
        assert q.awaitTermination(120)  # terminates by itself

    drain()
    assert len(read_outbox(out_dir, 1)) == 3
    payload_file(f"{feed_dir}/f2.json", 3, 2)
    drain()
    assert len(read_outbox(out_dir, 1)) == 5  # resumed, no reprocessing


def test_fanout_partitions_matches_driver_path(spark, tmp_path):
    """The executor-side fan-out must produce byte-identical outboxes to
    the driver path, without any payload crossing to the driver — collect
    is monkeypatched to raise for the duration of the partition path."""
    from pyspark.sql import DataFrame
    from speculare_pgcdc_spark.streaming.fanout import (
        fanout_batch,
        fanout_partitions,
        idempotent_outbox_deliver,
        read_outbox,
    )

    rows = [
        # (sub_id, seq, chg_idx, change_json) deliberately scrambled
        (2, 20, 1, "s2-b"),
        (1, 10, 0, "s1-a"),
        (2, 10, 0, "s2-a"),
        (1, 20, 1, "s1-c"),
        (1, None, 0, "s1-null"),  # null seq sorts first, as in Spark
        (1, 20, 0, "s1-b"),
        (3, 10, 0, "s3-a"),
    ]
    routed = spark.createDataFrame(
        rows, "sub_id int, seq bigint, chg_idx int, change_json string"
    ).repartition(5)

    drv_dir, exe_dir = str(tmp_path / "drv"), str(tmp_path / "exe")
    fanout_batch(routed, idempotent_outbox_deliver(drv_dir), batch_id=1)

    real_collect = DataFrame.collect

    def no_collect(self):
        raise AssertionError("fanout_partitions must not collect()")

    DataFrame.collect = no_collect
    try:
        fanout_partitions(
            routed, idempotent_outbox_deliver(exe_dir), batch_id=1
        )
    finally:
        DataFrame.collect = real_collect

    for sub in (1, 2, 3):
        drv = read_outbox(drv_dir, sub)
        exe = read_outbox(exe_dir, sub)
        assert drv == exe, f"sub {sub}: driver {drv} != executor {exe}"
    # and the order is WAL order, not shuffle order
    assert read_outbox(drv_dir, 1) == ["s1-null", "s1-a", "s1-b", "s1-c"]


def test_fanout_modes_through_streaming_query(spark, tmp_path, monkeypatch):
    """Both fan-out paths end-to-end over a real StreamingQuery: the
    executor path (forced by a zero AUTO_DRIVER_MAX_ROWS) delivers the
    same routed outbox contents as the driver path."""
    from speculare_pgcdc_spark.streaming import fanout
    from speculare_pgcdc_spark.streaming.fanout import (
        idempotent_outbox_deliver,
        read_outbox,
        start_fanout_query,
    )

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    with open(f"{feed_dir}/f1.json", "w") as f:
        for i in range(6):
            f.write(
                json.dumps(
                    _wal2json_line("insert", "events_a", ["id"], [i])
                )
                + "\n"
            )
    subs = subscriptions_df(spark, [(1, "insert:events_a")], FEED_TABLES)

    outs = {}
    for path, max_rows in (("driver", 100_000), ("partitions", 0)):
        monkeypatch.setattr(fanout, "AUTO_DRIVER_MAX_ROWS", max_rows)
        out_dir = str(tmp_path / f"out_{path}")
        stream = normalize_hypertables(
            parse_wal2json(file_change_feed(spark, feed_dir)),
            lookup_df(spark),
        )
        q = start_fanout_query(
            stream,
            subs,
            idempotent_outbox_deliver(out_dir),
            str(tmp_path / f"ckpt_{path}"),
            available_now=True,
        )
        assert q.awaitTermination(120)
        outs[path] = sorted(read_outbox(out_dir, 1))
    assert outs["driver"] == outs["partitions"] and len(outs["driver"]) == 6


def test_watch_db_outbox_in_wal_order(spark, tmp_path, monkeypatch):
    """ADVICE r1: per-subscriber delivery order. The wal_poll lsn rides
    through parse (seq) with the intra-message posexplode index
    (chg_idx); the outbox must list changes in (lsn, chg_idx) order even
    though routing shuffles them — on the driver path and on the
    executor path (forced by a zero AUTO_DRIVER_MAX_ROWS)."""
    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.streaming import fanout, wal_source
    from speculare_pgcdc_spark.streaming.fanout import read_outbox

    db = str(tmp_path / "wal.sqlite")
    wal_source.ensure_wal_tables(db)

    def msg(ids):
        return json.dumps(
            {
                "change": [
                    {
                        "kind": "insert",
                        "table": "events_a",
                        "columnnames": ["id"],
                        "columnvalues": [i],
                    }
                    for i in ids
                ]
            }
        )

    # descending lsn insert order; multi-change messages
    wal_source.append_wal(db, 30, msg([5, 6]))
    wal_source.append_wal(db, 10, msg([1, 2]))
    wal_source.append_wal(db, 20, msg([3, 4]))

    eng = Engine(spark=spark, tables=["events_a", "events_b"])
    eng.subscribe(1, "insert:events_a")
    for path, max_rows in (("driver", 100_000), ("partitions", 0)):
        monkeypatch.setattr(fanout, "AUTO_DRIVER_MAX_ROWS", max_rows)
        out_dir = str(tmp_path / f"out_{path}")
        q = eng.watch_db(
            db,
            out_dir,
            str(tmp_path / f"ckpt_{path}"),
            exactly_once=True,
            available_now=True,
        )
        assert q.awaitTermination(120)
        got = [
            json.loads(p)["columnvalues"][0]
            for p in read_outbox(out_dir, 1)
        ]
        assert got == [1, 2, 3, 4, 5, 6], f"{path}: {got}"


def test_feedgen_escapes_special_content(spark):
    """Fixture content with quotes/backslashes must round-trip the
    wal2json frame (format_string interpolation would emit malformed
    JSON that try_parse_json silently drops)."""
    from speculare_pgcdc_spark.cdc import feedgen

    e = spark.createDataFrame(
        [
            (1, 101, 'say "hi" \\ there', 1.5, "2024-01-01 00:00:00"),
            (3, 102, "plain", float("nan"), "2024-01-01 00:01:00"),
        ],
        "event_id bigint, user_id bigint, event_type string,"
        " value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    import unittest.mock as mock

    with mock.patch.object(feedgen, "table", lambda s, sf, n: e):
        feed = feedgen._build_feed(spark, "ignored")
        changes = parse_wal2json(feed)
        got = {
            r["etype"]
            for r in changes.select(
                F.try_element_at(
                    "row_typed", F.lit("event_type")
                ).alias("etype")
            ).collect()
        }
    # both frames parsed: the quoted/backslashed string survived intact
    # and the NaN value became JSON null instead of a malformed frame
    assert got == {'say "hi" \\ there', "plain"}


def test_fanout_partitions_tie_order_deterministic(spark, tmp_path):
    """Rows tying on (seq, chg_idx) — e.g. a seq-less file feed — must
    still deliver in a deterministic order in partitions mode, so a
    crash-replay rewrites an idempotent batch file with IDENTICAL line
    order (consumers may have tailed the first write). The driver and
    auto paths break the tie the same way (change_json)."""
    from speculare_pgcdc_spark.streaming.fanout import (
        fanout_auto,
        fanout_batch,
        fanout_partitions,
        idempotent_outbox_deliver,
        read_outbox,
    )

    rows = [(1, 0, 0, f"payload-{i:02d}") for i in (5, 1, 9, 3, 7)]
    rows += [(2, 0, 0, f"p2-{i:02d}") for i in (4, 8, 2)]
    outs = []
    for attempt, fan in enumerate(
        (fanout_partitions, fanout_partitions, fanout_batch, fanout_auto)
    ):
        routed = spark.createDataFrame(
            rows, "sub_id int, seq bigint, chg_idx int, change_json string"
        ).repartition(7)  # scramble physical order differently per run
        out_dir = str(tmp_path / f"o{attempt}")
        fan(routed, idempotent_outbox_deliver(out_dir), batch_id=1)
        outs.append((read_outbox(out_dir, 1), read_outbox(out_dir, 2)))
    assert all(o == outs[0] for o in outs), outs
    assert outs[0] == (
        sorted(p for s, _, _, p in rows if s == 1),
        sorted(p for s, _, _, p in rows if s == 2),
    )


def test_transform_with_state_running_count(spark, tmp_path):
    """T7 on the modern API: transformWithStateInPandas must reproduce
    running_counts' semantics (state persists across microbatches) on
    the RocksDB state store. Skips only if this build ships no RocksDB
    provider."""
    from speculare_pgcdc_spark.streaming.windows import running_counts_tws

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(feed_dir)
    )
    try:
        counted = running_counts_tws(src)
        q = (
            counted.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            _write_jsonl(
                f"{feed_dir}/f1.json",
                [
                    _event("2024-01-01 00:00:00", 7, 1),
                    _event("2024-01-01 00:01:00", 7, 2),
                    _event("2024-01-01 00:02:00", 8, 3),
                ],
            )
            q.processAllAvailable()
            _write_jsonl(
                f"{feed_dir}/f2.json",
                [_event("2024-01-01 00:03:00", 7, 4)],
            )
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT user_id, MAX(events) e FROM t_tws GROUP BY user_id"
            ).collect()
            got = {r.user_id: r.e for r in rows}
            assert got == {7: 3, 8: 1}
        finally:
            q.stop()
    except Exception as ex:
        msg = str(ex)
        if (
            "RocksDB" in msg
            or "UnsatisfiedLink" in msg
            or "protobuf" in msg
            or "STREAMING_PYTHON_RUNNER_INITIALIZATION" in msg
            or "driver worker exited" in msg
        ):
            # the TWS runtime needs google.protobuf (driver worker) and
            # a RocksDB provider — absent in this container; the
            # operator's contract is still its running_counts parity
            pytest.skip(f"transformWithState runtime unavailable: {ex}")
        raise
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_fanout_auto_selects_path_by_batch_size(spark, tmp_path, monkeypatch):
    """Round-3 verdict #3: the default fan-out must not funnel large
    batches through the driver. fanout_auto picks the driver path at or
    below AUTO_DRIVER_MAX_ROWS and the executor path above it, and both
    paths produce identical outboxes."""
    from speculare_pgcdc_spark.streaming import fanout as fo

    rows = [(1, 10, 0, "a"), (2, 10, 0, "b"), (1, 20, 0, "c")]
    routed = spark.createDataFrame(
        rows, "sub_id int, seq bigint, chg_idx int, change_json string"
    )

    calls = []
    real_batch, real_parts = fo.fanout_batch, fo.fanout_partitions
    monkeypatch.setattr(
        fo,
        "fanout_batch",
        lambda *a, **k: (calls.append("driver"), real_batch(*a, **k)),
    )
    monkeypatch.setattr(
        fo,
        "fanout_partitions",
        lambda *a, **k: (calls.append("partitions"), real_parts(*a, **k)),
    )

    out_small = str(tmp_path / "small")
    fo.fanout_auto(routed, fo.outbox_deliver(out_small), batch_id=1)
    assert calls == ["driver"]

    monkeypatch.setattr(fo, "AUTO_DRIVER_MAX_ROWS", 2)  # 3 rows > 2
    out_big = str(tmp_path / "big")
    fo.fanout_auto(routed, fo.outbox_deliver(out_big), batch_id=1)
    assert calls == ["driver", "partitions"]

    assert (
        fo.read_outbox(out_small, 1)
        == fo.read_outbox(out_big, 1)
        == ["a", "c"]
    )


def test_fanout_auto_small_batch_evaluates_routing_once(spark, tmp_path):
    """A small routed microbatch is evaluated ONCE by fanout_auto: one
    bounded Arrow collect both sizes and delivers the batch — no
    count pass, no groupBy shuffle. The subscriptions frame is a
    LocalRelation, so route collects it without a job and inlines it
    as a literal: no join, no broadcast. The persist's cache fills
    inside the collect's own job, so the batch runs one single-stage
    job."""
    from speculare_pgcdc_spark.plans import optimized_plan_string
    from speculare_pgcdc_spark.streaming.fanout import fanout_auto

    subs = subscriptions_df(
        spark, [(1, "insert:events_a"), (2, "*:events_a")], FEED_TABLES
    )
    plan = optimized_plan_string(subs)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan

    feed = str(tmp_path / "feed" / "f1.json")
    _write_jsonl(
        feed,
        [
            _wal2json_line("insert", "events_a", ["id"], [i])
            for i in range(4)
        ],
    )
    changes = parse_wal2json(
        spark.read.text(feed).withColumnRenamed("value", "payload")
    ).withColumnRenamed("table", "table_name")
    routed = route(changes, subs)
    assert routed.rdd.getNumPartitions() == 1

    got = {}
    sc = spark.sparkContext
    group = "fanout-auto-small-batch"
    sc.setJobGroup(group, "fanout_auto over a small batch")
    try:
        fanout_auto(
            routed, lambda sub, payloads, _b: got.update({sub: payloads})
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    # single-stage jobs: no shuffle anywhere on the small-batch path
    assert all(len(tracker.getJobInfo(j).stageIds) == 1 for j in jobs)
    assert sorted(got) == [1, 2] and got[1] == got[2] and len(got[1]) == 4


def test_streaming_cdc_apply_maintains_snapshot(spark, tmp_path):
    """start_matview_query without a view: a parquet snapshot
    maintained from the change stream converges to the batch
    apply_changes result across multiple microbatches, and a second
    drain with no new input is a no-op."""
    from speculare_pgcdc_spark.cdc.apply import (
        apply_changes,
        start_matview_query,
    )
    from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json

    feed_dir = str(tmp_path / "feed")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    cols = {"id": "bigint", "name": "string"}

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id bigint, name string"
    )
    base.write.parquet(snap)

    def chg(kind, id_, name=None):
        if kind == "delete":
            return {
                "change": [
                    {
                        "kind": "delete",
                        "table": "t",
                        "oldkeys": {"keynames": ["id"], "keyvalues": [id_]},
                    }
                ]
            }
        return {
            "change": [
                {
                    "kind": kind,
                    "table": "t",
                    "columnnames": ["id", "name"],
                    "columnvalues": [id_, name],
                }
            ]
        }

    batches = [
        [chg("update", 1, "one-v2"), chg("insert", 4, "four")],
        [chg("delete", 2), chg("update", 4, "four-v2")],
    ]
    _write_batches(feed_dir, batches)

    def drain():
        stream = parse_wal2json(
            file_change_feed(spark, feed_dir)
        ).withColumn("table_name", F.col("table"))
        q = start_matview_query(stream, snap, None, ckpt, "id", cols,
                                None, None)
        # both files in flight; process everything committed, stop
        q.processAllAvailable()
        q.stop()

    drain()
    got = {
        r["id"]: r["name"] for r in spark.read.parquet(snap).collect()
    }
    assert got == {1: "one-v2", 3: "three", 4: "four-v2"}

    # equivalence with applying the same batches sequentially in batch
    # mode (the file feed carries no seq, so a ONE-shot apply over both
    # files would tie cross-batch changes at (0,0) — per-batch
    # application is the defined order, exactly what the stream did)
    state = base
    for i in range(len(batches)):
        feed_i = spark.createDataFrame(
            [(json.dumps(m),) for m in batches[i]], ["payload"]
        )
        state = apply_changes(
            state,
            parse_wal2json(feed_i).withColumn(
                "table_name", F.col("table")
            ),
            "id",
            cols,
        ).localCheckpoint(eager=True)
    assert got == {r["id"]: r["name"] for r in state.collect()}

    # restart with no new input: checkpoint resumes, snapshot unchanged
    drain()
    again = {
        r["id"]: r["name"] for r in spark.read.parquet(snap).collect()
    }
    assert again == got


def test_streaming_ohlc_bars_match_batch_and_q128(spark, sf_dir, tmp_path):
    """E79 stream parity: the min_by/max_by OHLC formulation streamed
    file-by-file equals its batch run AND the row_number formulation
    registered as q128 (day windows align because the fixture
    timestamps are naive-UTC and F.window('1 day') buckets epoch
    days exactly like date_trunc('day'))."""
    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.queries import load_all
    from speculare_pgcdc_spark.streaming.windows import ohlc_bars_windowed

    events = t(spark, sf_dir, "events").select(
        "ts", "event_id", "event_type", "value"
    )
    stream_dir = str(tmp_path / "events_stream")
    events.coalesce(4).write.mode("overwrite").parquet(stream_dir)

    src = (
        spark.readStream.schema(
            "ts timestamp, event_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        ohlc_bars_windowed(src, watermark="100 days")
        .writeStream.format("memory")
        .queryName("t_ohlc")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.w.start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
            for r in spark.sql("SELECT * FROM t_ohlc").collect()
        }
    finally:
        q.stop()

    batch = {
        (r.w.start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in ohlc_bars_windowed(events).collect()
    }
    assert got == batch

    q128 = load_all()["q128_ohlc_bars"].fn(spark, sf_dir)
    via_rownum = {
        (r.day, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in q128.collect()
    }
    assert got == via_rownum


def test_streaming_ewma_matches_python_fold(spark, tmp_path):
    """T7 streaming EWMA: per-key running decay across MULTIPLE
    triggers (state carries between batches) equals a plain Python
    fold over the same events in order."""
    from speculare_pgcdc_spark.streaming.windows import streaming_ewma

    in_dir = str(tmp_path / "ewma_in")
    os.makedirs(in_dir, exist_ok=True)
    batches = [
        [
            {"ts": "2024-01-01 00:00:01", "user_id": 1, "event_id": 1,
             "value": 10.0},
            {"ts": "2024-01-01 00:00:02", "user_id": 1, "event_id": 2,
             "value": 20.0},
            {"ts": "2024-01-01 00:00:03", "user_id": 2, "event_id": 3,
             "value": 5.0},
        ],
        [
            {"ts": "2024-01-01 00:00:04", "user_id": 1, "event_id": 4,
             "value": 40.0},
            {"ts": "2024-01-01 00:00:05", "user_id": 2, "event_id": 5,
             "value": 15.0},
        ],
    ]
    src = (
        spark.readStream.schema(
            "ts timestamp, user_id bigint, event_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    q = (
        streaming_ewma(src)
        .writeStream.format("memory")
        .queryName("t_ewma")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for i, rows in enumerate(batches):
            _write_jsonl(os.path.join(in_dir, f"b{i}.jsonl"), rows)
            q.processAllAvailable()
        # update mode: last row per user wins
        got = {}
        for r in spark.sql("SELECT * FROM t_ewma").collect():
            got[r.user_id] = (r.ewma, r.n_events)
    finally:
        q.stop()

    # python fold reference, same order, alpha=0.5
    expect = {}
    for rows in batches:
        for r in rows:
            e, n = expect.get(r["user_id"], (0.0, 0))
            e = r["value"] if n == 0 else 0.5 * r["value"] + 0.5 * e
            expect[r["user_id"]] = (e, n + 1)
    expect = {u: (round(e, 10), n) for u, (e, n) in expect.items()}
    assert got == expect


def test_streaming_scd2_current_matches_batch_q153(spark, sf_dir, tmp_path):
    """E106 stream parity: the O(1)-state latest-per-key aggregate
    streamed file-by-file equals the is_current slice of the batch
    SCD2 build (q153) — the stream maintains exactly the rows the
    batch history marks current."""
    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.queries import load_all
    from speculare_pgcdc_spark.streaming.windows import scd2_current

    events = t(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    stream_dir = str(tmp_path / "scd2_stream")
    events.coalesce(4).write.mode("overwrite").parquet(stream_dir)

    src = (
        spark.readStream.schema(
            "ts timestamp, event_id bigint, user_id bigint,"
            " event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        scd2_current(src)
        .writeStream.format("memory")
        .queryName("t_scd2")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.attr_value, r.valid_from)
            for r in spark.sql("SELECT * FROM t_scd2").collect()
        }
    finally:
        q.stop()

    batch = {
        (r.user_id, r.attr_value, r.valid_from)
        for r in scd2_current(events).collect()
    }
    assert got == batch

    current = load_all()["q153_scd2_history"].fn(spark, sf_dir).filter(
        "is_current"
    )
    via_q153 = {
        (r.user_id, r.attr_value, r.valid_from)
        for r in current.collect()
    }
    assert got == via_q153


def test_observe_changes_batch_counters_ride_the_plan(spark, sf_dir):
    """Observability: the observe() counter set on the parsed change
    frame must equal independently-computed aggregates, and arrive
    from the SAME execution (no second scan)."""
    from speculare_pgcdc_spark.cdc.feedgen import feed_messages
    from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json
    from speculare_pgcdc_spark.streaming.metrics import observe_changes

    changes = parse_wal2json(feed_messages(spark, sf_dir))
    observed, obs = observe_changes(changes)
    total = observed.count()  # the one action; metrics ride along
    got = obs.get
    assert got["n_changes"] == total
    expected = {
        r.kind: r.n
        for r in changes.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got["n_inserts"] == expected.get("insert", 0)
    assert got["n_updates"] == expected.get("update", 0)
    assert got["n_deletes"] == expected.get("delete", 0)
    assert got["n_inserts"] + got["n_updates"] + got["n_deletes"] == total


def test_observe_parse_health_counts_poison_without_dropping(spark):
    """Poison accounting: NULL-variant rows are counted, not filtered
    — the caller keeps its tolerance policy."""
    from speculare_pgcdc_spark.streaming.metrics import (
        observe_parse_health,
    )

    payloads = spark.createDataFrame(
        [
            ('{"change": []}',),
            ("{not json",),
            ('{"change": [{"kind": "insert"}]}',),
        ],
        "payload string",
    ).select(
        "payload", F.try_parse_json("payload").alias("variant")
    )
    observed, obs = observe_parse_health(payloads)
    assert observed.count() == 3  # nothing dropped by observation
    assert obs.get == {"n_messages": 3, "n_poison": 1}


def test_observe_changes_streaming_metrics_in_progress(spark, tmp_path):
    """Streaming: the same observed plan surfaces its counters in each
    microbatch's progress (the forwarder-loop logging analog)."""
    import json as _json

    from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json
    from speculare_pgcdc_spark.streaming.metrics import (
        CDC_METRICS,
        observe_changes,
    )

    in_dir = str(tmp_path / "feed")
    os.makedirs(in_dir, exist_ok=True)
    msg = {
        "change": [
            {"kind": "insert", "table": "events_a",
             "columnnames": ["id"], "columnvalues": ["1"]},
            {"kind": "delete", "table": "events_a"},
        ]
    }
    with open(os.path.join(in_dir, "b0.jsonl"), "w") as f:
        f.write(_json.dumps({"payload": _json.dumps(msg)}) + "\n")

    src = spark.readStream.schema("payload string").json(in_dir)
    q = (
        observe_changes(parse_wal2json(src))
        .writeStream.format("memory")
        .queryName("t_obs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress or []
        metrics = [
            p["observedMetrics"][CDC_METRICS]
            for p in progress
            if p.get("observedMetrics", {}).get(CDC_METRICS)
        ]
    finally:
        q.stop()
    totals = {
        k: sum(m[k] for m in metrics)
        for k in ("n_changes", "n_inserts", "n_deletes")
    }
    assert totals == {"n_changes": 2, "n_inserts": 1, "n_deletes": 1}


def test_engine_watch_reports_cdc_metrics_in_progress(spark, tmp_path):
    """Every Engine.watch query carries the observe() counter set in
    its microbatch progress — on by default, no caller opt-in."""
    import json as _json

    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.streaming.metrics import CDC_METRICS

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir, exist_ok=True)
    msg = {
        "change": [
            {"kind": "insert", "table": "events_a",
             "columnnames": ["id"], "columnvalues": ["1"]},
            {"kind": "update", "table": "events_b",
             "columnnames": ["id"], "columnvalues": ["2"]},
        ]
    }
    with open(os.path.join(feed_dir, "f0.jsonl"), "w") as f:
        f.write(_json.dumps(msg) + "\n")

    eng = Engine(spark=spark, tables=["events_a", "events_b"])
    eng.subscribe(1, "insert,update:events_a")
    q = eng.watch(
        feed_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    metrics = [
        p["observedMetrics"][CDC_METRICS]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get(CDC_METRICS)
    ]
    assert metrics, "watch progress carried no cdc_metrics"
    assert sum(m["n_changes"] for m in metrics) == 2
    assert sum(m["n_inserts"] for m in metrics) == 1
    assert sum(m["n_updates"] for m in metrics) == 1


def test_engine_watch_cdc_metrics_exact_on_overflowing_batch(
    spark, tmp_path, monkeypatch
):
    """A batch over AUTO_DRIVER_MAX_ROWS takes the executor path after
    the sizing collect; the routed batch must still be evaluated once,
    or the observe() counters count each change once per read."""
    import json as _json

    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.streaming import fanout
    from speculare_pgcdc_spark.streaming.metrics import CDC_METRICS

    monkeypatch.setattr(fanout, "AUTO_DRIVER_MAX_ROWS", 1)
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir, exist_ok=True)
    changes = [
        {"kind": "insert", "table": "events_a",
         "columnnames": ["id"], "columnvalues": [str(i)]}
        for i in range(3)
    ] + [
        {"kind": "update", "table": "events_a",
         "columnnames": ["id"], "columnvalues": ["9"]},
    ]
    with open(os.path.join(feed_dir, "f0.jsonl"), "w") as f:
        f.write(_json.dumps({"change": changes}) + "\n")

    out = tmp_path / "out"
    eng = Engine(spark=spark, tables=["events_a"])
    eng.subscribe(1, "insert,update:events_a")
    eng.subscribe(2, "insert:events_a")
    q = eng.watch(
        feed_dir, str(out), str(tmp_path / "ckpt"), available_now=True
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    metrics = [
        p["observedMetrics"][CDC_METRICS]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get(CDC_METRICS)
    ]
    assert metrics, "watch progress carried no cdc_metrics"
    assert sum(m["n_changes"] for m in metrics) == 4
    assert sum(m["n_inserts"] for m in metrics) == 3
    assert sum(m["n_updates"] for m in metrics) == 1
    delivered = {
        sub: len((out / sub / "outbox.jsonl").read_text().splitlines())
        for sub in ("1", "2")
    }
    assert delivered == {"1": 4, "2": 3}


def test_streaming_cusum_matches_python_fold(spark, tmp_path):
    """T7 streaming CUSUM: state (cumsum, running min, count) carries
    across MULTIPLE triggers and the emitted S equals a plain Python
    fold over the same events in order; the alarm latches when S
    crosses the threshold."""
    import json as _json

    from speculare_pgcdc_spark.streaming.windows import streaming_cusum

    in_dir = str(tmp_path / "cusum_in")
    os.makedirs(in_dir, exist_ok=True)
    batches = [
        [("a", 1, "2024-01-01 00:00:01", 10.0),
         ("a", 2, "2024-01-01 00:00:02", 8.0),
         ("b", 3, "2024-01-01 00:00:03", 12.0)],
        [("a", 4, "2024-01-01 00:00:04", 15.0),
         ("a", 5, "2024-01-01 00:00:05", 16.0),
         ("b", 6, "2024-01-01 00:00:06", 9.0)],
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(in_dir, f"b{i}.jsonl"), "w") as f:
            for t, eid, ts, v in rows:
                f.write(_json.dumps(
                    {"event_type": t, "event_id": eid, "ts": ts,
                     "value": v}) + "\n")

    target, threshold = 10.0, 5.0
    src = (
        spark.readStream.schema(
            "event_type string, event_id bigint, ts timestamp,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    q = (
        streaming_cusum(src, target=target, threshold=threshold)
        .writeStream.format("memory")
        .queryName("t_cusum")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # update mode: last emitted row per key wins
        rows = spark.sql(
            "SELECT * FROM t_cusum"
        ).collect()
    finally:
        q.stop()
    final = {}
    for r in rows:  # update mode: the row with the highest n is final
        if r.event_type not in final or r.n > final[r.event_type][1]:
            final[r.event_type] = (r.s_stat, r.n, r.alarm)

    # python fold reference (alarm latches on ANY excursion)
    for key in ("a", "b"):
        vals = [v for b in batches for (t, _e, _ts, v) in b if t == key]
        c, minc, ever = 0.0, 0.0, False
        for v in vals:
            c += v - target
            minc = min(minc, c)
            ever = ever or (c - minc > threshold)
        s = c - minc
        got_s, got_n, got_alarm = final[key]
        assert got_n == len(vals)
        assert abs(got_s - s) < 1e-9, (key, got_s, s)
        assert got_alarm == ever, key
    # series "a" drifts +11 above target -> alarmed; "b" does not
    assert final["a"][2] is True and final["b"][2] is False


def test_fanout_auto_flips_paths_mid_stream(spark, tmp_path, monkeypatch):
    """Chaos test (VERDICT r5 #8): fanout_auto must flip driver ->
    executor BETWEEN microbatches when a batch crosses
    AUTO_DRIVER_MAX_ROWS, and the outbox must stay complete and in
    WAL order across the flip."""
    from speculare_pgcdc_spark.streaming import fanout as fo
    from speculare_pgcdc_spark.streaming.fanout import (
        idempotent_outbox_deliver,
        read_outbox,
        start_fanout_query,
    )

    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    # batch 1: 2 changes (<= threshold, driver path); batch 2: 8
    # changes (> threshold, executor path) — maxFilesPerTrigger=1
    # makes each file its own microbatch
    with open(f"{feed_dir}/f1.json", "w") as f:
        for i in range(2):
            f.write(json.dumps(
                _wal2json_line("insert", "events_a", ["id"], [i])
            ) + "\n")
    with open(f"{feed_dir}/f2.json", "w") as f:
        for i in range(2, 10):
            f.write(json.dumps(
                _wal2json_line("insert", "events_a", ["id"], [i])
            ) + "\n")

    monkeypatch.setattr(fo, "AUTO_DRIVER_MAX_ROWS", 3)
    calls = []
    real_batch, real_parts = fo.fanout_batch, fo.fanout_partitions
    monkeypatch.setattr(
        fo, "fanout_batch",
        lambda *a, **k: (calls.append("driver"), real_batch(*a, **k))[1],
    )
    monkeypatch.setattr(
        fo, "fanout_partitions",
        lambda *a, **k: (calls.append("exec"), real_parts(*a, **k))[1],
    )

    subs = subscriptions_df(spark, [(1, "insert:events_a")], FEED_TABLES)
    stream = normalize_hypertables(
        parse_wal2json(file_change_feed(spark, feed_dir)),
        lookup_df(spark),
    )
    out_dir = str(tmp_path / "out_auto")
    q = start_fanout_query(
        stream,
        subs,
        idempotent_outbox_deliver(out_dir),
        str(tmp_path / "ckpt_auto"),
        available_now=True,
    )
    assert q.awaitTermination(120)
    # both paths ran, one per batch (file order = batch order)
    assert sorted(calls) == ["driver", "exec"]
    got = read_outbox(out_dir, 1)
    assert len(got) == 10
    ids = [json.loads(p)["columnvalues"][0] for p in got]
    # per-batch WAL order survives the flip (batches may arrive in
    # either order, but each batch's ids are contiguous ascending)
    assert sorted(ids) == list(range(10))
    assert ids.index(0) < ids.index(1) and ids.index(2) < ids.index(9)


def test_streaming_ewma_multi_chunk_batch_folds_in_order(
    spark, tmp_path
):
    """Round-6 review regression: a key whose single-batch slice spans
    MULTIPLE Arrow chunks (maxRecordsPerBatch below the group size)
    must still fold in global (ts, event_id) order — per-chunk sorting
    would fold later-chunk earlier-ts events after earlier-chunk later
    ones and silently corrupt the order-sensitive EWMA."""
    from speculare_pgcdc_spark.streaming.windows import streaming_ewma

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    in_dir = str(tmp_path / "ewma_chunk_in")
    os.makedirs(in_dir, exist_ok=True)
    # one key, 12 events in one file (one microbatch), written in
    # REVERSE ts order so chunk boundaries scramble event order
    rows = [
        {
            "ts": f"2024-01-01 00:00:{sec:02d}",
            "user_id": 1,
            "event_id": sec,
            "value": float(sec * 7 % 13),
        }
        for sec in range(12, 0, -1)
    ]
    _write_jsonl(os.path.join(in_dir, "b0.jsonl"), rows)
    src = (
        spark.readStream.schema(
            "ts timestamp, user_id bigint, event_id bigint, value double"
        )
        .json(in_dir)
    )
    q = (
        streaming_ewma(src)
        .writeStream.format("memory")
        .queryName("t_ewma_chunk")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_chunk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.ewma, r.n_events)
            for r in spark.sql("SELECT * FROM t_ewma_chunk").collect()
        }
    finally:
        q.stop()
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )

    e, n = 0.0, 0
    for sec in range(1, 13):  # true event order
        v = float(sec * 7 % 13)
        e = v if n == 0 else 0.5 * v + 0.5 * e
        n += 1
    assert got == {1: (round(e, 10), n)}


def test_fanout_auto_flips_driver_to_executor_mid_stream(
    spark, tmp_path, monkeypatch
):
    """Chaos: fanout_auto re-decides the delivery path PER BATCH, so one
    running query can cross the AUTO_DRIVER_MAX_ROWS threshold
    mid-stream (small batch -> driver collect; burst batch ->
    executor-side foreachPartition) with no restart, no loss and no
    duplicate. The threshold is pinned tiny so the flip happens at
    test scale; path selection is attested by wrapping both delivery
    functions (driver-side, inside foreachBatch)."""
    from speculare_pgcdc_spark.streaming import fanout as fo
    from speculare_pgcdc_spark.streaming.fanout import (
        idempotent_outbox_deliver,
        read_outbox,
        start_fanout_query,
    )

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    paths: list[str] = []
    real_batch, real_parts = fo.fanout_batch, fo.fanout_partitions
    monkeypatch.setattr(
        fo, "fanout_batch",
        lambda *a, **k: (paths.append("driver"), real_batch(*a, **k)),
    )
    monkeypatch.setattr(
        fo, "fanout_partitions",
        lambda *a, **k: (
            paths.append("executor"), real_parts(*a, **k)),
    )
    monkeypatch.setattr(fo, "AUTO_DRIVER_MAX_ROWS", 3)

    def payload_file(name, ids):
        _write_jsonl(
            os.path.join(feed_dir, name),
            [
                _wal2json_line("insert", "events_a", ["id"], [i])
                for i in ids
            ],
        )

    subs = subscriptions_df(spark, [(1, "*:events_a")], FEED_TABLES)
    stream = normalize_hypertables(
        parse_wal2json(file_change_feed(spark, feed_dir)),
        lookup_df(spark),
    )
    payload_file("f1.json", [1, 2])  # 2 routed rows <= 3: driver path
    q = start_fanout_query(
        stream, subs, idempotent_outbox_deliver(out_dir), ckpt
    )
    try:
        q.processAllAvailable()
        # burst: 8 routed rows > 3 -> executor path, same query
        payload_file("f2.json", [3, 4, 5, 6, 7, 8, 9, 10])
        q.processAllAvailable()
    finally:
        q.stop()

    assert paths == ["driver", "executor"]
    lines = read_outbox(out_dir, 1)
    ids = sorted(json.loads(ln)["columnvalues"][0] for ln in lines)
    assert ids == list(range(1, 11))  # no loss, no duplicates


def test_fanout_auto_mode_flips_mid_stream(spark, tmp_path, monkeypatch):
    """Chaos test for the one stateful mode switch in the serving path
    (r5-r7 optional item): auto fan-out must flip driver->executor
    BETWEEN microbatches of a LIVE query when a batch crosses
    AUTO_DRIVER_MAX_ROWS, with identical delivery semantics on both
    sides of the flip (exactly-once per subscriber, WAL order
    preserved across the whole outbox).

    Path detection: the delivery adapter increments a driver-local
    counter around the shared-filesystem outbox write. fanout_batch
    calls it on the driver (counter visible); fanout_partitions runs a
    PICKLED COPY inside foreachPartition (counter copy mutates on the
    executor, driver-side stays put) — so the counter moves exactly
    for driver-path batches while the outbox receives rows from both."""
    from speculare_pgcdc_spark.streaming import fanout as fan
    from speculare_pgcdc_spark.streaming.fanout import (
        outbox_deliver,
        start_fanout_query,
    )

    monkeypatch.setattr(fan, "AUTO_DRIVER_MAX_ROWS", 10)

    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed_dir)

    driver_calls = []
    base = outbox_deliver(out_dir)

    def deliver(sub_id, payloads, batch_id=-1):
        driver_calls.append((sub_id, len(payloads)))
        base(sub_id, payloads, batch_id)

    subs = subscriptions_df(spark, [(1, "insert:events_a")], FEED_TABLES)
    stream = normalize_hypertables(
        parse_wal2json(file_change_feed(spark, feed_dir)),
        lookup_df(spark),
    )
    q = start_fanout_query(
        stream, subs, deliver, ckpt, query_name="auto-flip"
    )
    try:
        # batch 1: 3 routed rows <= 10 -> driver path
        _write_jsonl(
            f"{feed_dir}/f1.json",
            [
                _wal2json_line("insert", "events_a", ["id"], [i])
                for i in range(3)
            ],
        )
        q.processAllAvailable()
        assert driver_calls == [(1, 3)], "small batch must ride the driver"

        # batch 2: 30 routed rows > 10 -> executor path, same live query
        _write_jsonl(
            f"{feed_dir}/f2.json",
            [
                _wal2json_line("insert", "events_a", ["id"], [i])
                for i in range(3, 33)
            ],
        )
        q.processAllAvailable()
        assert driver_calls == [(1, 3)], (
            "large batch must NOT touch the driver adapter"
        )

        # batch 3: small again -> flips BACK to the driver
        _write_jsonl(
            f"{feed_dir}/f3.json",
            [_wal2json_line("insert", "events_a", ["id"], [33])],
        )
        q.processAllAvailable()
        assert driver_calls == [(1, 3), (1, 1)]
    finally:
        q.stop()

    p = os.path.join(out_dir, "1", "outbox.jsonl")
    with open(p) as f:
        raw = [ln.rstrip("\n") for ln in f if ln.strip()]
    ids = [
        next(
            v
            for n, v in zip(c["columnnames"], c["columnvalues"])
            if n == "id"
        )
        for c in map(json.loads, raw)
    ]
    # exactly-once across BOTH delivery paths, batches in stream order
    assert sorted(ids) == list(range(34))
    assert ids[:3] == [0, 1, 2] and ids[-1] == 33
    # within the executor-path batch the documented order contract is
    # the deterministic change_json tiebreak (the file feed carries no
    # seq), identical to what fanout_batch's struct sort would produce
    assert raw[3:33] == sorted(raw[3:33])
    assert raw[:3] == sorted(raw[:3])


def _json_event_stream(spark, feed_dir):
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    return spark.readStream.schema(schema).json(feed_dir)


def test_stream_stream_interval_join_matches_batch_twin(
    spark, tmp_path
):
    """T-family stream-stream join (q263's live form): two file
    streams joined on user within (0, 15 min] must emit exactly the
    batch twin's pairs, and a row arriving BEHIND the watermark must
    be dropped instead of joined (the state-purge contract that keeps
    stream-stream state bounded)."""
    from speculare_pgcdc_spark.streaming.joins import (
        interval_event_join,
    )

    pur_dir = str(tmp_path / "pur")
    err_dir = str(tmp_path / "err")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pur_dir)
    os.makedirs(err_dir)

    def ev(uid, minute, eid):
        return {
            "user_id": uid,
            "ts": f"2024-01-01T10:{minute:02d}:00.000Z",
            "event_id": eid,
        }

    # batch 1: u1 purchase at 10:00 -> errors at 10:05 (join), 10:20
    # (outside 15 min); u2 purchase 10:30 with no error
    _write_jsonl(f"{pur_dir}/p1.json", [ev(1, 0, 100), ev(2, 30, 101)])
    _write_jsonl(f"{err_dir}/e1.json", [ev(1, 5, 200), ev(1, 20, 201)])

    joined = interval_event_join(
        _json_event_stream(spark, pur_dir),
        _json_event_stream(spark, err_dir),
        within="15 minutes",
        watermark="10 minutes",
    ).select("user_id", "l_event_id", "r_event_id")

    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.user_id, r.l_event_id, r.r_event_id)
            for r in spark.sql("SELECT * FROM ssj").collect()
        }
        assert got1 == {(1, 100, 200)}

        # batch 2: advance both watermarks far past 10:30, then feed a
        # LATE error (10:02, behind the watermark) plus a fresh pair
        _write_jsonl(f"{pur_dir}/p2.json", [ev(3, 50, 102)])
        _write_jsonl(f"{err_dir}/e2.json", [ev(3, 55, 202)])
        q.processAllAvailable()
        _write_jsonl(f"{err_dir}/e3.json", [ev(1, 2, 203)])
        q.processAllAvailable()
        got2 = {
            (r.user_id, r.l_event_id, r.r_event_id)
            for r in spark.sql("SELECT * FROM ssj").collect()
        }
        # the fresh pair joined; the late error did NOT resurrect the
        # 10:00 purchase even though it is inside its 15-min window
        assert got2 == {(1, 100, 200), (3, 102, 202)}
    finally:
        q.stop()

    # cross-mode parity: the same builder on static frames over the
    # SAME rows equals the stream's on-time output
    rows_p = [ev(1, 0, 100), ev(2, 30, 101), ev(3, 50, 102)]
    rows_e = [ev(1, 5, 200), ev(1, 20, 201), ev(3, 55, 202)]
    _write_jsonl(f"{pur_dir}/all_p.jsonl", rows_p)
    _write_jsonl(f"{err_dir}/all_e.jsonl", rows_e)
    static_p = spark.read.json(
        f"{pur_dir}/all_p.jsonl",
        schema=_json_event_stream(spark, pur_dir).schema,
    )
    static_e = spark.read.json(
        f"{err_dir}/all_e.jsonl",
        schema=_json_event_stream(spark, err_dir).schema,
    )
    batch = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in interval_event_join(
            static_p, static_e, within="15 minutes"
        )
        .select("user_id", "l_event_id", "r_event_id")
        .collect()
    }
    assert batch == {(1, 100, 200), (3, 102, 202)}


def test_q279_watermark_picks_drive_real_stream_drops(
    spark, sf_dir, tmp_path
):
    """Close the loop from q279's lateness MEASUREMENT to T4's
    withWatermark SEMANTICS (r9 verdict item 3): the events a real
    watermarked stream drops are exactly the events q279 counts as
    late, on the same modeled-arrival feed.

    Three independent derivations are pinned against each other:
    (1) the registry q279 plan run on the feed subset (Spark md5
    arrival model, banded prefix-max), (2) a pure-Python hashlib
    re-derivation of the same model (also the boundary guard), and
    (3) a real per-event micro-batch stream through
    withWatermark(W) + dropDuplicates.

    Stream mechanics that make the parity EXACT: one file per batch
    in arrival order, each event followed by a heartbeat re-send of
    itself — the engine applies a batch's watermark from stats that
    lag one batch behind, so the heartbeat batch lets the watermark
    absorb event i before event i+1 arrives, making the effective
    watermark exactly q279's running prefix max minus W. Boundary
    convention differs (Spark drops lateness >= W, q279 counts
    > W), so the guard asserts the feed has no exact-boundary
    lateness (the fixture's microsecond-random ts make ties
    measure-zero)."""
    import hashlib

    from speculare_pgcdc_spark.catalog import table
    from speculare_pgcdc_spark.queries import load_all

    N = 70
    rows = (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("ts_str"),
        )
        .collect()
    )
    # (2) pure-Python arrival model (independent of Spark's md5/conv)
    def delay_s(eid: int) -> int:
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16) % 900

    arr = sorted(
        ((r.t + 1_000_000 * delay_s(r.event_id), r.event_id, r.t, r.ts_str)
         for r in rows)
    )[:N]
    hw = None
    model = []  # (event_id, late_us)
    for _a, eid, t, _s in arr:
        late = max((hw - t), 0) if hw is not None else 0
        model.append((eid, late))
        hw = t if hw is None else max(hw, t)
    for _eid, late in model:
        assert late not in (60_000_000, 300_000_000), "boundary tie"
    exp_1m = {e for e, l in model if l > 60_000_000}
    exp_5m = {e for e, l in model if l > 300_000_000}
    assert exp_5m and len(exp_1m) > len(exp_5m), "vacuous feed prefix"

    # (1) the registry q279 plan on the same subset feed
    subset_dir = tmp_path / "subset"
    subset_ids = [eid for _a, eid, _t, _s in arr]
    (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id").isin(subset_ids))
        .select("event_id", "ts")
        .coalesce(1)
        .write.parquet(str(subset_dir / "events.parquet"))
    )
    q279 = load_all()["q279_watermark_lateness"].fn(
        spark, str(subset_dir)
    ).collect()[0]
    assert q279.n_events == N
    assert q279.n_late_1m == len(exp_1m)
    assert q279.n_late_5m == len(exp_5m)
    assert q279.n_late_1h == 0  # delay bound 900s < 1h, by construction

    # (3) a REAL watermarked stream per candidate pick
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    feed_dir = tmp_path / "feed"
    os.makedirs(feed_dir)
    t0 = 1_700_000_000
    i = 0
    for _a, eid, _t, ts_str in arr:
        for _rep in range(2):  # event batch + heartbeat batch
            p = str(feed_dir / f"{i:05d}.json")
            _write_jsonl(p, [{"ts": ts_str, "event_id": eid}])
            os.utime(p, (t0 + i, t0 + i))
            i += 1
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        for w_s, expected in ((60, exp_1m), (300, exp_5m)):
            src = (
                spark.readStream.schema("ts timestamp, event_id bigint")
                .option("maxFilesPerTrigger", 1)
                .json(str(feed_dir))
            )
            out = src.withWatermark(
                "ts", f"{w_s} seconds"
            ).dropDuplicates(["event_id"])
            q = (
                out.writeStream.format("memory")
                .queryName(f"t_q279_{w_s}")
                .outputMode("append")
                .option(
                    "checkpointLocation", str(tmp_path / f"ck{w_s}")
                )
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            survived = {
                r.event_id
                for r in spark.sql(
                    f"SELECT event_id FROM t_q279_{w_s}"
                ).collect()
            }
            assert set(subset_ids) - survived == expected, (
                f"W={w_s}s: stream dropped "
                f"{sorted(set(subset_ids) - survived)}, "
                f"q279 counted {sorted(expected)} late"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_scd2_incremental_stream_matches_batch_build(
    spark, sf_dir, tmp_path
):
    """SCD2 maintenance closes the CDC-consumer loop (the q281 twin,
    same pattern as q279's stream parity): maintaining the versioned
    dimension INCREMENTALLY — per change batch, through a real
    foreachBatch stream — must yield exactly the state q281's one-shot
    batch build computes over the full history. Also pinned batchwise
    (scd2_apply chained by hand) so a failure localizes to either the
    merge logic or the streaming harness."""
    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply
    from speculare_pgcdc_spark.queries import load_all

    orders = t(spark, sf_dir, "orders")
    expected = {
        tuple(r)
        for r in load_all()["q281_scd2_intervals"]
        .fn(spark, sf_dir)
        .collect()
    }

    # arrival chunks split on GLOBAL o_orderdate terciles: per key,
    # chunk order == valid_from order (the CDC commit-order contract);
    # equal dates stay in one chunk so in-batch tie ranking matches
    # q281's (o_orderdate, o_orderkey) total order
    dates = sorted(
        r.d
        for r in orders.select(
            F.col("o_orderdate").alias("d")
        ).distinct().collect()
    )
    d1 = dates[len(dates) // 3]
    d2 = dates[2 * len(dates) // 3]
    chunks = [
        orders.filter(F.col("o_orderdate") <= F.lit(d1)),
        orders.filter(
            (F.col("o_orderdate") > F.lit(d1))
            & (F.col("o_orderdate") <= F.lit(d2))
        ),
        orders.filter(F.col("o_orderdate") > F.lit(d2)),
    ]
    assert all(c.count() > 0 for c in chunks)

    # (1) pure-batch incremental chain
    state = None
    for c in chunks:
        state = scd2_apply(state, c)
        state = state.localCheckpoint(eager=True)
    got = {tuple(r) for r in state.select(*STATE_COLS).collect()}
    assert got == expected

    # (2) the same merge driven by a REAL stream, state on disk
    import glob as _glob
    import shutil as _shutil

    feed = tmp_path / "feed"
    os.makedirs(feed)
    t0 = 1_700_000_000
    for i, c in enumerate(chunks):
        tmp_out = str(tmp_path / f"chunk{i}")
        c.coalesce(1).write.parquet(tmp_out)
        part = _glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = str(feed / f"{i:05d}.parquet")
        _shutil.copy(part, dst)
        os.utime(dst, (t0 + i, t0 + i))
    state_dir = tmp_path / "scd2_state"
    versions: list[str] = []

    def upsert(batch_df, batch_id):
        prev = (
            batch_df.sparkSession.read.parquet(versions[-1])
            if versions
            else None
        )
        out = str(state_dir / f"v{batch_id}")
        scd2_apply(prev, batch_df).write.parquet(out)
        versions.append(out)

    src = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = (
        src.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    assert len(versions) == 3
    streamed = {
        tuple(r)
        for r in spark.read.parquet(versions[-1])
        .select(*STATE_COLS)
        .collect()
    }
    assert streamed == expected
    # sanity: exactly one open version per key at every checkpoint
    for v in versions:
        s = spark.read.parquet(v)
        assert (
            s.filter(F.col("valid_to").isNull()).count()
            == s.select("o_custkey").distinct().count()
        )


def _orders_frame(spark, rows):
    """Tiny orders-shaped frame for SCD2 contract tests:
    rows = [(orderkey, custkey, 'YYYY-MM-DD', status, totalprice)];
    custkey may be None."""
    return spark.createDataFrame(
        [
            (int(ok), None if ck is None else int(ck), d, st, float(tp))
            for ok, ck, d, st, tp in rows
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderdate string, "
        "o_orderstatus string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))


def test_scd2_cross_batch_equal_valid_from_ties_chain_like_one_shot(
    spark,
):
    """Round-10 advice (medium): a later batch row whose valid_from
    EQUALS the open version's but whose tie key (o_orderkey) is
    SMALLER must slot BEFORE the open row — q281's (valid_from,
    o_orderkey) total order — not after it. The old merge pinned the
    open row at a hardcoded front rank, so exactly this input
    silently diverged from the one-shot build; the state now stores
    each open version's real tie key and re-ranks with it."""
    from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply

    b1 = _orders_frame(
        spark,
        [
            (10, 1, "2024-01-01", "O", 1.0),
            # open version after batch 1: key 1, orderkey 30
            (30, 1, "2024-02-01", "F", 2.0),
            (40, 2, "2024-03-01", "O", 9.0),
        ],
    )
    b2 = _orders_frame(
        spark,
        [
            # SAME valid_from as key 1's open version, SMALLER tie:
            # one-shot order is 10 < 20 < 30
            (20, 1, "2024-02-01", "P", 5.0),
            (50, 2, "2024-04-01", "F", 7.0),
        ],
    )
    inc = scd2_apply(scd2_apply(None, b1), b2, validate=True)
    one_shot = scd2_apply(None, b1.unionByName(b2))
    got = {tuple(r) for r in inc.select(*STATE_COLS).collect()}
    want = {tuple(r) for r in one_shot.select(*STATE_COLS).collect()}
    assert got == want
    # and the tie really exercised the re-rank: key 1's version 2 is
    # the LATE-arriving orderkey 20, version 3 the old open row
    k1 = {
        r["version"]: (r["status"], r["valid_to"] is None)
        for r in inc.filter(F.col("o_custkey") == 1).collect()
    }
    assert k1[2] == ("P", False)
    assert k1[3] == ("F", True)


def test_scd2_late_batch_violates_contract(spark):
    """Negative precondition test (round-10 verdict item 3): a batch
    row with valid_from STRICTLY EARLIER than the key's open version
    belongs before an already-closed version whose valid_to the merge
    never rewrites. validate=True must raise; without validation the
    documented wrong-output mode is a stale valid_to on that closed
    version (pinned here so the failure mode stays what the module
    docstring says it is)."""
    import pytest as _pytest

    from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply

    b1 = _orders_frame(
        spark,
        [
            (10, 1, "2024-01-01", "O", 1.0),
            (30, 1, "2024-03-01", "F", 2.0),
        ],
    )
    late = _orders_frame(spark, [(20, 1, "2024-02-01", "P", 5.0)])
    state = scd2_apply(None, b1)
    with _pytest.raises(ValueError, match="strictly earlier"):
        scd2_apply(state, late, validate=True)
    # silent mode diverges exactly as documented: version 1 keeps
    # valid_to = 2024-03-01 (stale), one-shot closes it at 2024-02-01
    silent = scd2_apply(state, late)
    one_shot = scd2_apply(None, b1.unionByName(late))
    got = {tuple(r) for r in silent.select(*STATE_COLS).collect()}
    want = {tuple(r) for r in one_shot.select(*STATE_COLS).collect()}
    assert got != want
    v1_silent = silent.filter(F.col("version") == 1).collect()[0]
    v1_shot = one_shot.filter(F.col("version") == 1).collect()[0]
    assert str(v1_silent["valid_to"]) == "2024-03-01"
    assert str(v1_shot["valid_to"]) == "2024-02-01"


def test_scd2_null_keys_dropped_across_batches(spark):
    """One NULL-key rule for the one-shot and the incremental build:
    rows with a NULL o_custkey are dropped before ranking. Chained
    instead, each batch started the NULL key a new open version 1,
    because the next batch's match on the key never matches NULL,
    while the one-shot build chained them as versions 1 and 2."""
    from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply

    b1 = _orders_frame(spark, [(10, 1, "2024-01-01", "O", 1.0),
                               (11, None, "2024-01-01", "O", 3.0)])
    b2 = _orders_frame(spark, [(20, 1, "2024-02-01", "F", 2.0),
                               (21, None, "2024-02-01", "F", 4.0)])
    inc = scd2_apply(scd2_apply(None, b1), b2)
    one_shot = scd2_apply(None, b1.unionByName(b2))
    got = {tuple(r) for r in inc.select(*STATE_COLS).collect()}
    assert got == {tuple(r) for r in one_shot.select(*STATE_COLS)
                   .collect()}
    assert {r[0] for r in got} == {1}
    assert len(got) == 2


def test_q281_drops_null_keys_like_scd2_apply(spark, tmp_path):
    """q281 and its DuckDB oracle drop NULL-key orders, as scd2_apply
    does: on three orders, two with a NULL o_custkey, all three give
    the one version of the one real key. Chained instead, q281 made
    the NULL key two more versions that the SCD2 consumer never
    holds."""
    import duckdb

    from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply
    from speculare_pgcdc_spark.queries import load_all

    orders = _orders_frame(spark, [(10, 1, "2024-01-01", "O", 1.0),
                                   (11, None, "2024-01-01", "O", 3.0),
                                   (21, None, "2024-02-01", "F", 4.0)])
    orders.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    spec = load_all()["q281_scd2_intervals"]
    got = {tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()}
    want = {tuple(r) for r in scd2_apply(None, orders)
            .select(*STATE_COLS).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM read_parquet("
                f"'{tmp_path}/orders.parquet/*.parquet')")
    oracle = set(con.execute(spec.oracle).fetchall())
    assert got == want == oracle == {
        (1, 1, _dt.date(2024, 1, 1), None, "O", 100)
    }


def test_streaming_matview_incremental_refresh(spark, tmp_path):
    """start_matview_query (round-12, the q97 IVM's streaming twin):
    snapshot AND aggregate view maintained per microbatch; after the
    drain the view equals a full recompute of the final snapshot, a
    poisoned untouched-group row proves carry-forward (not recompute),
    and a second drain with no new input is a no-op."""
    from speculare_pgcdc_spark.cdc.apply import start_matview_query
    from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json

    feed_dir = str(tmp_path / "feed")
    snap = str(tmp_path / "snapshot")
    mv = str(tmp_path / "matview")
    ckpt = str(tmp_path / "ckpt")
    cols = {"id": "bigint", "grp": "string", "v": "bigint"}

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id bigint, grp string, v bigint",
    )
    base.write.parquet(snap)

    def aggs():
        return [
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sv"),
        ]

    # the initial view: a full aggregate of the base, with group 'c'
    # POISONED — if the refresh recomputes untouched groups the poison
    # heals and the carry-forward property is disproven
    base.groupBy("grp").agg(*aggs()).withColumn(
        "sv",
        F.when(F.col("grp") == "c", F.lit(999)).otherwise(F.col("sv")),
    ).write.parquet(mv)

    def chg(kind, id_, grp=None, v=None):
        if kind == "delete":
            return {"change": [{
                "kind": "delete", "table": "t",
                "oldkeys": {"keynames": ["id"], "keyvalues": [id_]},
            }]}
        return {"change": [{
            "kind": kind, "table": "t",
            "columnnames": ["id", "grp", "v"],
            "columnvalues": [id_, grp, v],
        }]}

    batches = [
        [chg("update", 1, "a", 11), chg("insert", 5, "b", 50)],
        [chg("delete", 3), chg("update", 5, "b", 55)],
    ]
    _write_batches(feed_dir, batches)

    def drain():
        stream = parse_wal2json(
            file_change_feed(spark, feed_dir)
        ).withColumn("table_name", F.col("table"))
        q = start_matview_query(
            stream, snap, mv, ckpt, "id", cols, "grp", aggs
        )
        q.processAllAvailable()
        q.stop()

    drain()
    # final state: 1->(a,11), 2->(a,20), 4->(c,40), 5->(b,55)
    got_mv = {
        r["grp"]: (r["n"], r["sv"])
        for r in spark.read.parquet(mv).collect()
    }
    assert got_mv == {"a": (2, 31), "b": (1, 55), "c": (1, 999)}, got_mv
    # 'c' kept the poison (carried forward, never touched); the other
    # groups equal a full recompute of the final snapshot
    recomputed = {
        r["grp"]: (r["n"], r["sv"])
        for r in spark.read.parquet(snap)
        .groupBy("grp").agg(*aggs()).collect()
    }
    assert recomputed == {"a": (2, 31), "b": (1, 55), "c": (1, 40)}

    drain()  # no new files: both artifacts unchanged
    again = {
        r["grp"]: (r["n"], r["sv"])
        for r in spark.read.parquet(mv).collect()
    }
    assert again == got_mv


def test_start_scd2_query_swaps_state_in_place(spark, sf_dir, tmp_path):
    """start_scd2_query (round-12, the packaged SCD2 streaming
    consumer): the state root, read through read_scd2_state, converges
    to the one-shot q281 build over the full history, and a second
    drain with no new input leaves it unchanged."""
    import glob as _glob
    import shutil as _shutil

    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.cdc.scd2 import (
        STATE_COLS,
        read_scd2_state,
        start_scd2_query,
    )
    from speculare_pgcdc_spark.queries import load_all

    orders = t(spark, sf_dir, "orders")
    expected = {
        tuple(r)
        for r in load_all()["q281_scd2_intervals"]
        .fn(spark, sf_dir)
        .collect()
    }

    dates = sorted(
        r.d
        for r in orders.select(
            F.col("o_orderdate").alias("d")
        ).distinct().collect()
    )
    d1 = dates[len(dates) // 3]
    d2 = dates[2 * len(dates) // 3]
    chunks = [
        orders.filter(F.col("o_orderdate") <= F.lit(d1)),
        orders.filter(
            (F.col("o_orderdate") > F.lit(d1))
            & (F.col("o_orderdate") <= F.lit(d2))
        ),
        orders.filter(F.col("o_orderdate") > F.lit(d2)),
    ]

    feed = tmp_path / "scd2q_feed"
    os.makedirs(feed)
    t0 = 1_700_000_000
    for i, c in enumerate(chunks):
        tmp_out = str(tmp_path / f"scd2q_chunk{i}")
        c.coalesce(1).write.parquet(tmp_out)
        part = _glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = str(feed / f"{i:05d}.parquet")
        _shutil.copy(part, dst)
        os.utime(dst, (t0 + i, t0 + i))

    state_dir = str(tmp_path / "scd2q_state")
    ckpt = str(tmp_path / "scd2q_ck")

    def drain():
        src = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        q = start_scd2_query(
            src, state_dir, ckpt, validate=True, available_now=True
        )
        q.awaitTermination(300)
        q.stop()

    drain()
    got = {
        tuple(r)
        for r in read_scd2_state(spark, state_dir)
        .select(*STATE_COLS).collect()
    }
    assert got == expected

    drain()  # no new files -> unchanged
    again = {
        tuple(r)
        for r in read_scd2_state(spark, state_dir)
        .select(*STATE_COLS).collect()
    }
    assert again == expected


# ---------------------------------------------------------------------------
# Round-13: banded (partition-confined) IVM and the crash matrix of
# the consumers' shared commit protocol.
# ---------------------------------------------------------------------------


def _mv_chg(kind, id_, grp=None, v=None):
    if kind == "delete":
        return {"change": [{
            "kind": "delete", "table": "t",
            "oldkeys": {"keynames": ["id"], "keyvalues": [id_]},
        }]}
    return {"change": [{
        "kind": kind, "table": "t",
        "columnnames": ["id", "grp", "v"],
        "columnvalues": [id_, grp, v],
    }]}


def _mv_stream(spark, feed_dir):
    return parse_wal2json(
        file_change_feed(spark, feed_dir)
    ).withColumn("table_name", F.col("table"))


def test_streaming_matview_banded_confined_rewrite(spark, tmp_path):
    """start_matview_query over a banded snapshot: same end state as
    over the plain layout (view == recompute, poison proves
    carry-forward), AND the rewrite is physically confined — a band no
    batch touches keeps its exact parquet files (names + mtimes) across
    the drain."""
    from speculare_pgcdc_spark.cdc.apply import (
        read_banded_snapshot,
        start_matview_query,
        write_banded_snapshot,
    )

    feed_dir = str(tmp_path / "feedb")
    snap = str(tmp_path / "snapb")
    mv = str(tmp_path / "mvb")
    ckpt = str(tmp_path / "ckptb")
    cols = {"id": "bigint", "grp": "string", "v": "bigint"}

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40),
         (100, "c", 400)],
        "id bigint, grp string, v bigint",
    )
    # key range 1..100 over 32 bands -> width 4: ids 1-3 band 0,
    # ids 4-5 band 1, id 100 band 25 (never touched below)
    width = write_banded_snapshot(base, snap, "id", n_bands=32)
    assert width == 4

    def aggs():
        return [
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sv"),
        ]

    base.groupBy("grp").agg(*aggs()).withColumn(
        "sv",
        F.when(F.col("grp") == "c", F.lit(999)).otherwise(F.col("sv")),
    ).write.parquet(mv)

    batches = [
        [_mv_chg("update", 1, "a", 11), _mv_chg("insert", 5, "b", 50)],
        [_mv_chg("delete", 3), _mv_chg("update", 5, "b", 55)],
    ]
    _write_batches(feed_dir, batches)

    untouched_band = os.path.join(snap, "band=25")
    before = {
        p: os.path.getmtime(os.path.join(untouched_band, p))
        for p in os.listdir(untouched_band)
    }

    q = start_matview_query(
        _mv_stream(spark, feed_dir), snap, mv, ckpt, "id", cols,
        "grp", aggs, available_now=True,
    )
    q.processAllAvailable()
    q.stop()

    after = {
        p: os.path.getmtime(os.path.join(untouched_band, p))
        for p in os.listdir(untouched_band)
    }
    assert after == before  # band 25 physically untouched

    got_snap = {
        (r["id"], r["grp"], r["v"])
        for r in read_banded_snapshot(spark, snap).collect()
    }
    assert got_snap == {
        (1, "a", 11), (2, "a", 20), (4, "c", 40), (5, "b", 55),
        (100, "c", 400),
    }
    got_mv = {
        r["grp"]: (r["n"], r["sv"])
        for r in spark.read.parquet(mv).collect()
    }
    # 'c' keeps the poison (carried forward — neither c-row changed)
    assert got_mv == {"a": (2, 31), "b": (1, 55), "c": (2, 999)}, got_mv


# ---------------------------------------------------------------------------
# The commit protocol (cdc/commit.py) under crashes. Every stateful
# consumer runs one batch with a crash injected after k of its n dir
# swaps (k = n: after every swap, before Spark's commit log) and once
# between the two renames of its last swap; the restart must converge
# to the crash-free state.
# ---------------------------------------------------------------------------

_MV_COLS = {"id": "bigint", "grp": "string", "v": "bigint"}
# 32 bands over ids 1..100 -> width 4: ids 1-3 band 0, 4-7 band 1,
# id 100 band 25 (no batch touches it)
_MV_SEED = [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40),
            (100, "c", 400)]
_MV_BATCHES = [
    # bands 0 and 1; a delete and a group move lose their OLD group
    # unless the view commits before the snapshot
    [_mv_chg("delete", 1), _mv_chg("update", 2, "d", 20),
     _mv_chg("update", 4, "c", 44), _mv_chg("insert", 5, "b", 50)],
    [_mv_chg("delete", 3), _mv_chg("update", 5, "d", 55),
     _mv_chg("insert", 6, "a", 60)],
]
_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderdate date, "
    "o_orderstatus string, o_totalprice double"
)
_SCD2_SEED = [(10, 7, _dt.date(2023, 12, 1), "O", 9.0),
              (11, 9, _dt.date(2023, 12, 15), "O", 29.0)]
_SCD2_BATCHES = [
    [(1, 7, _dt.date(2024, 1, 1), "O", 10.0),
     (2, 7, _dt.date(2024, 2, 1), "O", 11.0),
     (3, 9, _dt.date(2024, 1, 15), "O", 30.0)],
    [(4, 7, _dt.date(2024, 3, 1), "F", 12.0),
     (5, 9, _dt.date(2024, 2, 15), "F", 31.0),
     (6, 2, _dt.date(2024, 3, 5), "O", 5.0)],
    [(7, 7, _dt.date(2024, 4, 1), "F", 13.0),
     (8, 2, _dt.date(2024, 4, 5), "F", 6.0)],
]


def _mv_aggs():
    return [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
    ]


def _rows(df, cols=None):
    return frozenset(tuple(r) for r in df.select(*(cols or df.columns))
                     .collect())


class _Consumer:
    """One stateful consumer over a state root: seed, feed, start,
    read back, and the dirs batch 0 swaps, in commit order."""

    def __init__(self, kind, banded=False):
        self.kind, self.banded = kind, banded
        self.scd2 = kind == "scd2"

    def seed(self, spark, root):
        from speculare_pgcdc_spark.cdc.apply import write_banded_snapshot
        from speculare_pgcdc_spark.cdc.scd2 import (
            scd2_apply,
            write_scd2_state,
        )

        if self.scd2:
            write_scd2_state(
                scd2_apply(
                    None, spark.createDataFrame(_SCD2_SEED, _ORDERS_SCHEMA)
                ),
                f"{root}/scd2",
            )
            return
        base = spark.createDataFrame(_MV_SEED, "id bigint, grp string, "
                                     "v bigint")
        if self.banded:
            write_banded_snapshot(base, f"{root}/snap", "id", n_bands=32)
        else:
            base.write.parquet(f"{root}/snap")
        if self.kind != "apply":
            base.groupBy("grp").agg(*_mv_aggs()).write.parquet(
                f"{root}/mv"
            )

    def write_feed(self, feed_dir, batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(feed_dir, exist_ok=True)
        for b in batches:
            # the file source orders files by mtime: pin one second each
            stamp = (1_700_000_000 + b, 1_700_000_000 + b)
            if not self.scd2:
                path = f"{feed_dir}/f{b}.json"
                with open(path, "w") as f:
                    for m in _MV_BATCHES[b]:
                        f.write(json.dumps(m) + "\n")
                os.utime(path, stamp)
                continue
            cols = list(zip(*_SCD2_BATCHES[b]))
            types = [pa.int64(), pa.int64(), pa.date32(), pa.string(),
                     pa.float64()]
            names = [c.split()[0] for c in _ORDERS_SCHEMA.split(", ")]
            pq.write_table(
                pa.table([pa.array(c, t) for c, t in zip(cols, types)],
                         names=names),
                f"{feed_dir}/f{b}.parquet",
            )
            os.utime(f"{feed_dir}/f{b}.parquet", stamp)

    def start(self, spark, root, feed_dir, ckpt):
        from speculare_pgcdc_spark.cdc import apply, scd2

        if self.scd2:
            src = (
                spark.readStream.schema(_ORDERS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed_dir)
            )
            return scd2.start_scd2_query(src, f"{root}/scd2", ckpt,
                                         validate=True, available_now=True)
        mv, grp, aggs = ((None, None, None) if self.kind == "apply"
                         else (f"{root}/mv", "grp", _mv_aggs))
        return apply.start_matview_query(
            _mv_stream(spark, feed_dir), f"{root}/snap", mv, ckpt, "id",
            _MV_COLS, grp, aggs, available_now=True,
        )

    def drain(self, spark, root, feed_dir, ckpt):
        q = self.start(spark, root, feed_dir, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def units(self, root):
        """The dirs batch 0 swaps, in commit order."""
        if self.scd2:
            return [f"{root}/scd2/open"]
        snaps = ([f"{root}/snap/band=0", f"{root}/snap/band=1"]
                 if self.banded else [f"{root}/snap"])
        head = [] if self.kind == "apply" else [f"{root}/mv"]
        return head + snaps

    def state(self, spark, root):
        from speculare_pgcdc_spark.cdc.apply import read_banded_snapshot
        from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, read_scd2_state

        if self.scd2:
            st = read_scd2_state(spark, f"{root}/scd2")
            return {"rows": _rows(st, STATE_COLS), "n": st.count()}
        snap = (read_banded_snapshot(spark, f"{root}/snap") if self.banded
                else spark.read.parquet(f"{root}/snap"))
        out = {"snap": _rows(snap, ["id", "grp", "v"])}
        if self.kind != "apply":
            out["view"] = _rows(spark.read.parquet(f"{root}/mv"),
                                ["grp", "n", "sv"])
        return out

    def expected(self, spark, n_batches):
        """The state after the first ``n_batches`` batches, computed
        without the consumer: a Python fold (apply/matview) or the
        one-shot SCD2 build."""
        from speculare_pgcdc_spark.cdc.scd2 import STATE_COLS, scd2_apply

        if self.scd2:
            orders = _SCD2_SEED + [r for b in _SCD2_BATCHES[:n_batches]
                                   for r in b]
            one_shot = scd2_apply(
                None, spark.createDataFrame(orders, _ORDERS_SCHEMA)
            )
            return {"rows": _rows(one_shot, STATE_COLS), "n": len(orders)}
        snap = {i: (g, v) for i, g, v in _MV_SEED}
        for msgs in _MV_BATCHES[:n_batches]:
            for m in msgs:
                c = m["change"][0]
                if c["kind"] == "delete":
                    snap.pop(c["oldkeys"]["keyvalues"][0], None)
                else:
                    i, g, v = c["columnvalues"]
                    snap[i] = (g, v)
        out = {"snap": frozenset((i, g, v) for i, (g, v) in snap.items())}
        if self.kind != "apply":
            acc = {}
            for g, v in snap.values():
                n, sv = acc.get(g, (0, 0))
                acc[g] = (n + 1, sv + v)
            out["view"] = frozenset((g, n, sv) for g, (n, sv) in acc.items())
        return out


_CONSUMERS = {
    "apply": _Consumer("apply"),
    "matview": _Consumer("matview"),
    "matview_banded": _Consumer("matview", banded=True),
    "scd2": _Consumer("scd2"),
}
_CRASH_FREE: dict = {}


def _crash_free(spark, tmp_path, monkeypatch, name):
    """The crash-free state after batch 0 (one run per consumer per
    pytest process), checked against the consumer-free expectation, and the
    order the run swapped its dirs in."""
    if name not in _CRASH_FREE:
        from speculare_pgcdc_spark.cdc import commit

        c = _CONSUMERS[name]
        root = str(tmp_path / "crash_free")
        c.seed(spark, root)
        c.write_feed(f"{root}_feed", [0])
        real, order = commit.swap, []

        def spy(live, stage):
            order.append(live)
            real(live, stage)

        monkeypatch.setattr(commit, "swap", spy)
        c.drain(spark, root, f"{root}_feed", f"{root}_ck")
        monkeypatch.setattr(commit, "swap", real)
        assert order == c.units(root)  # the view commits first
        state = c.state(spark, root)
        assert state == c.expected(spark, 1)
        _CRASH_FREE[name] = state
    return _CRASH_FREE[name]


@pytest.mark.parametrize(
    "name,point",
    [
        (name, point)
        for name, n in [("apply", 1), ("matview", 2),
                        ("matview_banded", 3), ("scd2", 1)]
        for point in [*range(n + 1), "mid"]
    ],
)
def test_commit_crash_matrix(spark, tmp_path, monkeypatch, name, point):
    """Crash batch 0 of a consumer after ``point`` of its dir swaps
    (or between the two renames of its last swap, "mid"), restart on
    the same checkpoint, and require the crash-free state: snapshot,
    view or SCD2 state, with one SCD2 row per order. The
    window before the restart is pinned too: the swapped dirs carry
    the batch's marker, the rest do not. For SCD2, point 0 is "log
    entry written, open table not swapped". After the restart nothing
    is left staged anywhere under the state root, and SCD2 holds no
    log entry its open table does not cover."""
    from speculare_pgcdc_spark.cdc import commit
    from speculare_pgcdc_spark.cdc.apply import read_banded_snapshot
    from speculare_pgcdc_spark.cdc.scd2 import closed_entries

    want = _crash_free(spark, tmp_path, monkeypatch, name)
    c = _CONSUMERS[name]
    root, feed, ck = (str(tmp_path / d) for d in ("s", "feed", "ck"))
    c.seed(spark, root)
    c.write_feed(feed, [0])
    units = c.units(root)
    untouched = f"{root}/snap/band=25"
    before = (sorted((e.name, e.stat().st_mtime) for e in
                     os.scandir(untouched))
              if os.path.isdir(untouched) else None)

    real, done = commit.swap, []

    def crashing_swap(live, stage):
        if point == "mid" and live == units[-1]:
            os.rename(live, f"{live}.old")
            raise RuntimeError("injected crash mid-rename")
        if point == 0:
            raise RuntimeError("injected crash before the first swap")
        real(live, stage)
        done.append(live)
        if len(done) == point:
            raise RuntimeError("injected crash after a swap")

    monkeypatch.setattr(commit, "swap", crashing_swap)
    with pytest.raises(Exception, match="injected crash"):
        c.drain(spark, root, feed, ck)
    monkeypatch.setattr(commit, "swap", real)

    tag = f"{commit.query_id(ck)}:0"
    swapped = len(units) - 1 if point == "mid" else point
    for i, d in enumerate(units):
        marker = os.path.join(d, commit.MARKER)
        if i < swapped:
            with open(marker) as f:
                assert f.read() == tag, d
        else:
            assert not os.path.exists(marker), d
    if point == "mid":
        assert not os.path.exists(units[-1])
        assert os.path.isdir(f"{units[-1]}.old")
    if name == "matview_banded" and point == 2:
        # the mixed-band window: band 0 post-batch, band 1 pre-batch
        got = {r["id"] for r in
               read_banded_snapshot(spark, f"{root}/snap").collect()}
        assert got == {2, 3, 4, 100}
    if c.scd2 and point == 0:
        # the batch's entry is in the log, but the reader's open table
        # does not cover it yet: it still reads exactly the seed
        assert os.listdir(f"{root}/scd2/closed") == ["2"]
        assert c.state(spark, root) == c.expected(spark, 0)

    c.drain(spark, root, feed, ck)
    assert c.state(spark, root) == want
    for d, subdirs, files in os.walk(root):
        assert not [e for e in subdirs + files
                    if e.endswith((".old", ".tmp"))], d
    if c.scd2:
        assert sorted(os.listdir(f"{root}/scd2/closed")) == [
            os.path.basename(e) for e in closed_entries(f"{root}/scd2")
        ]
    if before is not None:  # the band no batch touched kept its files
        assert sorted((e.name, e.stat().st_mtime) for e in
                      os.scandir(untouched)) == before


@pytest.mark.parametrize(
    "name", ["apply", "matview", "matview_banded", "scd2"]
)
def test_fresh_checkpoint_over_existing_state_lands(spark, tmp_path, name):
    """A fresh checkpoint restarts batch ids at 0. Its batches over
    state another checkpoint already advanced must still apply: the
    replay marker names the query as well as the batch, and SCD2's log
    entries are named by the state's own sequence, so the second
    query's batch 0 does not overwrite the first query's entry."""
    c = _CONSUMERS[name]
    root = str(tmp_path / "s")
    c.seed(spark, root)
    for i in (0, 1):
        feed = str(tmp_path / f"feed{i}")
        c.write_feed(feed, [i])
        c.drain(spark, root, feed, str(tmp_path / f"ck{i}"))
    assert c.state(spark, root) == c.expected(spark, 2)


def test_scd2_log_entries_never_rewritten(spark, tmp_path):
    """A batch writes the open table and at most one new log entry.
    Over three batches, every entry an earlier batch wrote keeps its
    files, names and mtimes alike; the open table holds one row per
    key; and the state equals the one-shot build after every batch."""
    from speculare_pgcdc_spark.cdc.scd2 import CLOSED, OPEN

    c = _CONSUMERS["scd2"]
    root, feed, ck = (str(tmp_path / d) for d in ("s", "feed", "ck"))
    c.seed(spark, root)
    log = f"{root}/scd2/{CLOSED}"
    seen: set = set()
    for b in range(3):
        c.write_feed(feed, [b])
        c.drain(spark, root, feed, ck)
        files = {(d, e.name, e.stat().st_mtime_ns)
                 for d in os.listdir(log) for e in os.scandir(f"{log}/{d}")}
        assert seen <= files
        assert len({f[0] for f in files} - {f[0] for f in seen}) == 1
        seen = files
        assert sorted(os.listdir(f"{root}/scd2")) == [CLOSED, OPEN]
        orders = _SCD2_SEED + [r for bt in _SCD2_BATCHES[:b + 1] for r in bt]
        n_keys = len({r[1] for r in orders})
        assert spark.read.parquet(f"{root}/scd2/{OPEN}").count() == n_keys
        assert c.state(spark, root) == c.expected(spark, b + 1)


def _large_path(monkeypatch):
    """Send every non-empty batch down the consumers' join path."""
    from speculare_pgcdc_spark.cdc import pipeline

    monkeypatch.setattr(pipeline, "LOOKUP_INLINE_MAX_ROWS", 0)


@pytest.mark.parametrize(
    "name,point",
    [
        (name, point)
        for name, n in [("apply", 1), ("matview", 2), ("matview_banded", 3)]
        for point in [*range(n + 1), "mid"]
    ],
)
def test_commit_crash_matrix_large_path(
    spark, tmp_path, monkeypatch, name, point
):
    """The snapshot consumer's crash matrix on the path a change set
    too large to ride the plan as literals takes."""
    _large_path(monkeypatch)
    test_commit_crash_matrix(spark, tmp_path, monkeypatch, name, point)


@pytest.mark.parametrize("name", ["apply", "matview", "matview_banded"])
def test_fresh_checkpoint_over_existing_state_lands_large_path(
    spark, tmp_path, monkeypatch, name
):
    _large_path(monkeypatch)
    test_fresh_checkpoint_over_existing_state_lands(spark, tmp_path, name)


def test_streaming_matview_incremental_refresh_large_path(
    spark, tmp_path, monkeypatch
):
    _large_path(monkeypatch)
    test_streaming_matview_incremental_refresh(spark, tmp_path)


def _write_batches(feed_dir, batches):
    """One feed file per batch. The file source orders files by their
    millisecond mtime, so each file gets its own second: files written
    within one millisecond would be taken in an arbitrary order."""
    os.makedirs(feed_dir)
    for i, msgs in enumerate(batches):
        path = f"{feed_dir}/f{i:03d}.json"
        with open(path, "w") as f:
            for m in msgs:
                f.write(json.dumps(m) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _view(spark, path):
    return {
        (r["grp"], r["n"], r["sv"])
        for r in spark.read.parquet(path).collect()
    }


def _recomputed_view(spark, snap):
    return {
        (r["grp"], r["n"], r["sv"])
        for r in spark.read.parquet(snap).groupBy("grp")
        .agg(*_mv_aggs()).collect()
    }


@pytest.mark.parametrize("path", ["small", "large"])
def test_matview_refreshes_the_null_group(spark, tmp_path, monkeypatch, path):
    """A NULL group is a group: a batch that changes a row of it, or
    moves a row into it, refreshes its view row on both paths. An
    ``=`` match on the group never matched NULL, so the stale row
    (NULL, 1, 10) was carried forward for good."""
    from speculare_pgcdc_spark.cdc.apply import start_matview_query

    if path == "large":
        _large_path(monkeypatch)
    snap, mv, ck, feed = (str(tmp_path / d) for d in
                          ("snap", "mv", "ck", "feed"))
    base = spark.createDataFrame(
        [(1, None, 10), (2, "a", 20)], "id bigint, grp string, v bigint"
    )
    base.write.parquet(snap)
    base.groupBy("grp").agg(*_mv_aggs()).write.parquet(mv)
    _write_batches(feed, [[_mv_chg("update", 1, None, 99),
                           _mv_chg("insert", 3, None, 1)]])
    q = start_matview_query(_mv_stream(spark, feed), snap, mv, ck, "id",
                            _MV_COLS, "grp", _mv_aggs, available_now=True)
    q.awaitTermination()
    assert _view(spark, mv) == {(None, 2, 100), ("a", 1, 20)}
    assert _view(spark, mv) == _recomputed_view(spark, snap)


def _batch_jobs(spark, query_name, batch_id):
    """The ids of the Spark jobs one foreachBatch batch ran."""
    from speculare_pgcdc_spark.cdc.commit import job_tag

    jsc = spark.sparkContext._jsc.sc()
    # job events reach the status store through the async listener bus
    jsc.listenerBus().waitUntilEmpty()
    return list(
        jsc.statusTracker().getJobIdsForTag(job_tag(query_name, batch_id))
    )


# 15 changed keys per batch: past the 10 values at which the optimizer
# turns an IN list into an InSet
_JOB_BATCHES = [
    [_mv_chg("update", i, "d", 100 + i) for i in range(1, 11)]
    + [_mv_chg("delete", 11), _mv_chg("delete", 12)]
    + [_mv_chg("insert", i, "a", i) for i in (41, 42, 43)],
    [_mv_chg("update", i, None, i) for i in range(13, 23)]
    + [_mv_chg("delete", i) for i in (1, 41)]
    + [_mv_chg("insert", i, "e", i) for i in (44, 45, 46)],
]


def _job_seed(spark, root):
    base = spark.createDataFrame(
        [(i, "abc"[i % 3], i) for i in range(1, 41)],
        "id bigint, grp string, v bigint",
    )
    # one file each, the perfbench seed's layout
    base.coalesce(1).write.parquet(f"{root}/snap")
    base.groupBy("grp").agg(*_mv_aggs()).coalesce(1).write.parquet(
        f"{root}/mv"
    )


def test_matview_small_batch_runs_three_jobs(spark, tmp_path):
    """A small matview batch runs three Spark jobs, counted by the job
    tag cdc.commit gives each batch: the bounded collect of the change
    rows (no shuffle: the driver picks each key's latest change), the
    snapshot write, and the view write. The view's aggregate needs no
    shuffle of its own: the one-file snapshot stage is read back as
    one partition. The first batch of a query run also infers the two
    dirs' schemas (one job each); later batches read with the schema
    they staged. It was 4 jobs with the latest-per-key shuffle, 12
    with the joins, 14 with the hypertable lookup."""
    from speculare_pgcdc_spark.cdc.apply import start_matview_query

    root = str(tmp_path)
    _job_seed(spark, root)
    _write_batches(f"{root}/feed", _JOB_BATCHES)
    q = start_matview_query(
        _mv_stream(spark, f"{root}/feed"), f"{root}/snap", f"{root}/mv",
        f"{root}/ck", "id", _MV_COLS, "grp", _mv_aggs,
        query_name="mv-job-count", available_now=True,
    )
    q.awaitTermination()
    assert len(_batch_jobs(spark, "mv-job-count", 0)) == 5
    assert len(_batch_jobs(spark, "mv-job-count", 1)) == 3
    assert _view(spark, f"{root}/mv") == _recomputed_view(
        spark, f"{root}/snap"
    )
    assert spark.read.parquet(f"{root}/snap").count() == 42


def test_apply_small_batch_runs_two_jobs(spark, tmp_path):
    """start_matview_query without a view: a small batch runs the
    bounded collect and the snapshot write, with no shuffle, no join
    and no schema inference after the query run's first batch."""
    from speculare_pgcdc_spark.cdc.apply import start_matview_query

    root = str(tmp_path)
    _job_seed(spark, root)
    _write_batches(f"{root}/feed", _JOB_BATCHES)
    q = start_matview_query(
        _mv_stream(spark, f"{root}/feed"), f"{root}/snap", None,
        f"{root}/ck", "id", _MV_COLS, None, None,
        query_name="apply-job-count", available_now=True,
    )
    q.awaitTermination()
    assert len(_batch_jobs(spark, "apply-job-count", 0)) == 3
    assert len(_batch_jobs(spark, "apply-job-count", 1)) == 2
    got = {tuple(r) for r in spark.read.parquet(f"{root}/snap").collect()}
    assert (2, "d", 102) in got and (13, None, 13) in got
    assert 1 not in {r[0] for r in got} and len(got) == 42


def test_unchanged_batch_stages_nothing(spark, tmp_path):
    """A batch that changes no key of ``tables`` (batch 1: a change to
    another table and one with a NULL key) runs only the collect and
    stages neither dir; a batch that changes keys but touches no group
    (batch 2: the delete of a key the snapshot lacks) stages the
    snapshot but no view. A replay of batch 2 after a crash before its
    commit-log entry changes neither dir."""
    from speculare_pgcdc_spark.cdc.apply import start_matview_query
    from speculare_pgcdc_spark.cdc.commit import MARKER, query_id

    root = str(tmp_path)
    snap, mv, ck = f"{root}/snap", f"{root}/mv", f"{root}/ck"
    _job_seed(spark, root)
    other = _mv_chg("insert", 50, "a", 1)
    other["change"][0]["table"] = "u"
    _write_batches(f"{root}/feed", [
        _JOB_BATCHES[0],
        [other, _mv_chg("insert", None, "a", 1)],
        [_mv_chg("delete", 999)],
    ])

    def drain():
        start_matview_query(
            _mv_stream(spark, f"{root}/feed"), snap, mv, ck, "id",
            _MV_COLS, "grp", _mv_aggs, tables=["t"],
            query_name="mv-unchanged", available_now=True,
        ).awaitTermination()

    def state():
        return {d: sorted((e.name, e.stat().st_mtime_ns)
                          for e in os.scandir(d)) for d in (snap, mv)}

    def marker(d):
        with open(f"{d}/{MARKER}") as f:
            return f.read()

    drain()
    assert [len(_batch_jobs(spark, "mv-unchanged", b))
            for b in (1, 2)] == [1, 2]
    qid = query_id(ck)
    assert (marker(snap), marker(mv)) == (f"{qid}:2", f"{qid}:0")
    before = state()
    for f in ("2", ".2.crc"):
        if os.path.exists(f"{ck}/commits/{f}"):
            os.remove(f"{ck}/commits/{f}")
    drain()
    # the replay ran batch 2 again (its collect at least)
    assert len(_batch_jobs(spark, "mv-unchanged", 2)) > 2
    assert state() == before
    assert spark.read.parquet(snap).count() == 41
    assert _view(spark, mv) == _recomputed_view(spark, snap)


def test_matview_banded_small_batch_job_count(spark, tmp_path):
    """Small batches over a banded snapshot, counted by their job tag
    and pinned as measured: the same seed and batches as
    test_matview_small_batch_runs_three_jobs over four bands run 6 then
    4 jobs, against the plain layout's 5 and 3. A steady batch is the
    bounded collect, the write of the touched bands and the view,
    whose aggregate over the four band files shuffles (two jobs); the
    first batch also infers the two dirs' schemas. With a separate
    banded plan it was 15 and 15."""
    from speculare_pgcdc_spark.cdc.apply import (
        read_banded_snapshot,
        start_matview_query,
        write_banded_snapshot,
    )

    root = str(tmp_path)
    _job_seed(spark, root)
    write_banded_snapshot(
        spark.read.parquet(f"{root}/snap"), f"{root}/bands", "id",
        n_bands=4,
    )
    _write_batches(f"{root}/feed", _JOB_BATCHES)
    q = start_matview_query(
        _mv_stream(spark, f"{root}/feed"), f"{root}/bands", f"{root}/mv",
        f"{root}/ck", "id", _MV_COLS, "grp", _mv_aggs,
        query_name="mvb-job-count", available_now=True,
    )
    q.awaitTermination()
    assert (len(_batch_jobs(spark, "mvb-job-count", 0)),
            len(_batch_jobs(spark, "mvb-job-count", 1))) == (6, 4)
    snap = read_banded_snapshot(spark, f"{root}/bands").drop("band")
    assert snap.count() == 42
    assert _view(spark, f"{root}/mv") == {
        (r["grp"], r["n"], r["sv"])
        for r in snap.groupBy("grp").agg(*_mv_aggs()).collect()
    }


def _scd2_job_feed(spark, sf_dir, feed):
    """Two small order files, split by order date, mtimes pinned."""
    from speculare_pgcdc_spark.catalog import table as t

    orders = t(spark, sf_dir, "orders")
    dates = sorted(r[0] for r in orders.select("o_orderdate").distinct()
                   .collect())
    d = dates[len(dates) // 2]
    os.makedirs(feed)
    for i, c in enumerate([orders.filter(F.col("o_orderdate") <= d),
                           orders.filter(F.col("o_orderdate") > d)]):
        out = f"{feed}.{i}"
        c.coalesce(1).write.parquet(out)
        part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = f"{feed}/{i:05d}.parquet"
        os.rename(f"{out}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return orders


def test_scd2_small_batch_job_count(spark, sf_dir, tmp_path):
    """The SCD2 consumer's batches, counted by their job tag (pinned as
    measured): each batch runs the key window's shuffle and the one
    split write. Batch 0 starts from an absent state root; batch 1
    reads the open table with the schema batch 0 staged, not by
    inferring it (one job more). With the whole history rewritten
    every batch it was 2 then 9 jobs. The open table holds one row per
    key."""
    from speculare_pgcdc_spark.cdc.scd2 import (
        read_scd2_state,
        start_scd2_query,
    )

    feed, state = str(tmp_path / "feed"), str(tmp_path / "state")
    orders = _scd2_job_feed(spark, sf_dir, feed)
    name = "scd2-job-count"
    src = (spark.readStream.schema(orders.schema)
           .option("maxFilesPerTrigger", 1).parquet(feed))
    q = start_scd2_query(src, state, str(tmp_path / "ck"),
                         query_name=name, available_now=True)
    q.awaitTermination()
    assert (len(_batch_jobs(spark, name, 0)),
            len(_batch_jobs(spark, name, 1))) == (2, 2)
    assert read_scd2_state(spark, state).count() == orders.count()
    assert (spark.read.parquet(f"{state}/open").count()
            == orders.select("o_custkey").distinct().count())


def test_watch_small_batch_runs_one_job(spark, tmp_path):
    """Engine.watch end to end over a one-file feed: the fan-out query
    tags its batch like the stateful consumers, and the small batch is
    one Spark job, the bounded collect that routes, sizes and delivers
    it (the registry rides the plan as a literal; the observe()
    counters ride the same job)."""
    from speculare_pgcdc_spark.engine import Engine

    feed = str(tmp_path / "feed")
    _write_batches(feed, [[
        _wal2json_line("insert", "events_a", ["id"], [str(i)])
        for i in range(4)
    ]])
    out = tmp_path / "out"
    eng = Engine(spark=spark, tables=FEED_TABLES)
    eng.subscribe(1, "insert:events_a")
    eng.subscribe(2, "*:events_a:id.eq.2")
    # the query name is the engine's; count only this run's jobs
    before = set(_batch_jobs(spark, "cdc-fanout", 0))
    q = eng.watch(feed, str(out), str(tmp_path / "ckpt"),
                  available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    jobs = set(_batch_jobs(spark, "cdc-fanout", 0)) - before
    assert len(jobs) == 1, jobs
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobInfo(jobs.pop()).stageIds) == 1
    assert len((out / "1" / "outbox.jsonl").read_text().splitlines()) == 4
    assert len((out / "2" / "outbox.jsonl").read_text().splitlines()) == 1


def test_stage_snapshot_small_batch_plan(spark, tmp_path):
    """The small path's snapshot stage is a scan plus a LocalRelation:
    no join, no exchange, and the changed keys as ONE InSet, which
    both drops the old rows and feeds the observe() that reports the
    old groups of the changed keys once the stage is written."""
    from speculare_pgcdc_spark.cdc.apply import stage_snapshot
    from speculare_pgcdc_spark.plans import (
        optimized_plan_string,
        plan_string,
    )

    _job_seed(spark, str(tmp_path))
    base = spark.read.parquet(str(tmp_path / "snap"))
    changes = parse_wal2json(
        spark.createDataFrame(
            [(json.dumps(m),) for m in _JOB_BATCHES[0]], "payload string"
        )
    ).withColumn("table_name", F.col("table"))
    snapshot, touched, bands = stage_snapshot(
        base, changes, "id", _MV_COLS, group_col="grp"
    )
    assert bands is None
    physical = plan_string(snapshot)
    assert "Join" not in physical and "Exchange" not in physical
    assert optimized_plan_string(snapshot).count(" INSET ") == 1
    snapshot.write.parquet(str(tmp_path / "out"))
    got = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "out")).collect()}
    assert len(got) == 41 and (5, "d", 105) in got and (42, "a", 42) in got
    # old groups a/b/c (updated and deleted keys), new groups d and a;
    # no NULL group touched
    groups = spark.createDataFrame(
        [(g,) for g in ["a", "b", "c", "d", "e", None]], "grp string"
    )
    hit = {r[0] for r in groups.filter(touched()).collect()}
    assert hit == {"a", "b", "c", "d"}


def _v2_delete(id_):
    return json.dumps({"action": "D", "table": "t", "identity": [
        {"name": "id", "type": "bigint", "value": id_}]})


# (lsn, v1 message) pairs; a NULL lsn is a NULL seq
_PARITY_V1 = [
    (10, _mv_chg("insert", 7, "a", 70)),       # insert -> update ->
    (11, _mv_chg("update", 7, "b", 71)),       # delete: gone
    (12, _mv_chg("delete", 7)),
    (20, _mv_chg("update", 2, "b", 21)),       # update -> delete (v2,
    (22, _mv_chg("insert", 2, "d", 22)),       # below) -> insert
    (25, _mv_chg("update", 3, "a", 33)),       # tied (seq, chg_idx) on
    (25, _mv_chg("update", 3, "a", 33)),       # one key, and across keys
    (25, _mv_chg("insert", 10, "e", 100)),
    (None, _mv_chg("update", 4, "c", 999)),    # a NULL seq orders first
    (5, _mv_chg("update", 4, "d", 44)),
    (None, _mv_chg("insert", 9, None, 90)),    # NULL seq, NULL group
    (26, _mv_chg("insert", None, "a", 1)),     # NULL key: dropped
    (31, _mv_chg("delete", 5)),                # v1 oldkeys delete
    (40, _mv_chg("update", 6, "c", "x1")),     # malformed, superseded
    (41, _mv_chg("update", 6, "c", 66)),
    (50, {"change": [_mv_chg("update", 8, "b", 1)["change"][0],
                     _mv_chg("update", 8, "a", 2)["change"][0]]}),
]
_PARITY_V2 = [(21, _v2_delete(2)), (30, _v2_delete(1))]


def test_stage_snapshot_paths_agree(spark, tmp_path, monkeypatch):
    """The driver-side pick of each key's latest change (small path)
    and the latest_changes aggregate (large path, the bound at 0) give
    the same snapshot, one row per key, and the same view, on one
    batch of insert -> update -> delete chains, tied positions, NULL
    seqs, a NULL key, v1 and v2 deletes, and a malformed cell on a
    change a later one supersedes: only a winning change is cast. Both
    paths agree on a plain snapshot and on a banded one, where the
    batch deletes every row of two bands and inserts into two bands
    that have no dir yet: only the touched bands are restaged, one
    file each, and a band left empty is staged as no dir."""
    from speculare_pgcdc_spark.cdc import apply, pipeline

    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        spark.sql("SELECT CAST('x1' AS BIGINT)").collect()
    joins = []
    real = apply.apply_latest
    monkeypatch.setattr(apply, "apply_latest",
                        lambda *a: joins.append(1) or real(*a))
    feed = "lsn bigint, payload string"
    changes = parse_wal2json(
        spark.createDataFrame(
            [(lsn, json.dumps(m)) for lsn, m in _PARITY_V1], feed
        ), seq_col="lsn",
    ).unionByName(parse_wal2json(
        spark.createDataFrame(_PARITY_V2, feed), seq_col="lsn", fmt="v2"
    )).withColumn("table_name", F.col("table"))
    seed = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40),
         (5, "c", 50), (6, None, 60), (8, "b", 80), (11, "z", 5)],
        "id bigint, grp string, v bigint",
    )
    seed.write.parquet(str(tmp_path / "snap"))
    base = spark.read.parquet(str(tmp_path / "snap"))
    # width 1: one band per key, so bands 1 and 5 lose every row and
    # keys 9 and 10 land in bands with no dir
    apply.write_banded_snapshot(seed, str(tmp_path / "bands"), "id",
                                band_width=1)
    banded = spark.read.parquet(str(tmp_path / "bands"))

    def band_rows(bands):
        return banded.where(F.col("band").isin(bands)).drop("band")

    mv = base.groupBy("grp").agg(*_mv_aggs()).localCheckpoint()
    bound = pipeline.LOOKUP_INLINE_MAX_ROWS
    got = {}
    for layout in ("plain", "banded"):
        for path in ("small", "large"):
            monkeypatch.setattr(pipeline, "LOOKUP_INLINE_MAX_ROWS",
                                bound if path == "small" else 0)
            joins.clear()
            out_dir = str(tmp_path / f"{layout}_{path}")
            if layout == "plain":
                snapshot, touched, bands = apply.stage_snapshot(
                    base, changes, "id", _MV_COLS, group_col="grp"
                )
                assert bands is None
                snapshot.write.parquet(out_dir)
                out = spark.read.parquet(out_dir)
            else:
                snapshot, touched, bands = apply.stage_snapshot(
                    band_rows, changes, "id", _MV_COLS, group_col="grp",
                    band_width=1,
                )
                assert bands == list(range(1, 11))
                snapshot.write.partitionBy("band").parquet(out_dir)
                staged = {e: [f for f in os.listdir(f"{out_dir}/{e}")
                              if f.endswith(".parquet")]
                          for e in os.listdir(out_dir)
                          if e.startswith("band=")}
                assert sorted(staged) == [
                    f"band={b}" for b in (10, 2, 3, 4, 6, 8, 9)
                ]
                assert all(len(f) == 1 for f in staged.values())
                out = spark.read.parquet(out_dir).drop("band").unionByName(
                    band_rows([11])
                )
            rows = [tuple(r) for r in out.collect()]
            assert len(rows) == len({r[0] for r in rows})
            view = apply.refresh_aggregates(mv, out, touched(), "grp",
                                            _mv_aggs())
            got[layout, path] = (frozenset(rows), _rows(view))
            assert len(joins) == (path == "large")
    want = (
        {(2, "d", 22), (3, "a", 33), (4, "d", 44), (6, "c", 66),
         (8, "a", 2), (9, None, 90), (10, "e", 100), (11, "z", 5)},
        {("a", 2, 35), ("c", 1, 66), ("d", 2, 66), ("e", 1, 100),
         (None, 1, 90), ("z", 1, 5)},
    )
    assert len(got) == 4 and all(v == want for v in got.values()), got


def test_matview_file_counts_stay_bounded(spark, tmp_path):
    """The snapshot and the view keep their file counts over 21
    batches: the upserts' LocalRelation and the view's recomputed
    groups are coalesced into the dir's own count instead of adding
    files every batch. On a banded snapshot every band dir keeps one
    file: the inserts open two bands that had no dir, and the last
    batch deletes every row of band 3, whose dir goes."""
    from speculare_pgcdc_spark.cdc.apply import (
        start_matview_query,
        write_banded_snapshot,
    )

    base = spark.createDataFrame(
        [(i, "abc"[i % 3], i) for i in range(1, 61)],
        "id bigint, grp string, v bigint",
    )

    def files(d):
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    batches = [
        [_mv_chg("update", 1 + 3 * (b % 20), "a", b),
         _mv_chg("insert", 100 + b, "b", b)]
        for b in range(20)
    ] + [[_mv_chg("delete", i) for i in range(48, 61)]]
    for layout in ("plain", "banded"):
        root = str(tmp_path / layout)
        if layout == "plain":
            base.repartition(2).write.parquet(f"{root}/snap")
        else:  # width 16: bands 0-3; the inserts land in bands 6 and 7
            write_banded_snapshot(base, f"{root}/snap", "id", n_bands=4)
        # 'c' is never touched, so the view's kept rows are never empty
        base.groupBy("grp").agg(*_mv_aggs()).repartition(2).write.parquet(
            f"{root}/mv"
        )
        seeded = files(f"{root}/snap"), files(f"{root}/mv")
        _write_batches(f"{root}/feed", batches)
        q = start_matview_query(
            _mv_stream(spark, f"{root}/feed"), f"{root}/snap",
            f"{root}/mv", f"{root}/ck", "id", _MV_COLS, "grp", _mv_aggs,
            available_now=True,
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 21
        if layout == "plain":
            assert files(f"{root}/snap") <= seeded[0]
        else:
            bands = [e for e in os.listdir(f"{root}/snap")
                     if e.startswith("band=")]
            assert sorted(bands) == [f"band={b}" for b in (0, 1, 2, 6, 7)]
            assert all(files(f"{root}/snap/{b}") == 1 for b in bands)
        assert files(f"{root}/mv") <= seeded[1]
        assert spark.read.parquet(f"{root}/snap").count() == 67
        assert _view(spark, f"{root}/mv") == _recomputed_view(
            spark, f"{root}/snap"
        )


def test_scd2_banded_state_parity(spark, sf_dir, tmp_path):
    """start_scd2_query over a two-chunk feed (the case the
    key-banded consumer of round 13 was pinned on): the state converges
    to the one-shot q281 build over the full history, with one row per
    order (its crash replay is in test_commit_crash_matrix)."""
    import glob as _glob
    import shutil as _shutil

    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.cdc.scd2 import (
        STATE_COLS,
        read_scd2_state,
        start_scd2_query,
    )
    from speculare_pgcdc_spark.queries import load_all

    orders = t(spark, sf_dir, "orders")
    expected = {
        tuple(r)
        for r in load_all()["q281_scd2_intervals"]
        .fn(spark, sf_dir)
        .collect()
    }

    dates = sorted(
        r.d
        for r in orders.select(
            F.col("o_orderdate").alias("d")
        ).distinct().collect()
    )
    d1 = dates[len(dates) // 2]
    chunks = [
        orders.filter(F.col("o_orderdate") <= F.lit(d1)),
        orders.filter(F.col("o_orderdate") > F.lit(d1)),
    ]

    feed = tmp_path / "scd2b_feed"
    os.makedirs(feed)
    t0 = 1_700_000_000
    for i, c in enumerate(chunks):
        tmp_out = str(tmp_path / f"scd2b_chunk{i}")
        c.coalesce(1).write.parquet(tmp_out)
        part = _glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = str(feed / f"{i:05d}.parquet")
        _shutil.copy(part, dst)
        os.utime(dst, (t0 + i, t0 + i))

    state_dir = str(tmp_path / "scd2b_state")
    ckpt = str(tmp_path / "scd2b_ck")
    src = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = start_scd2_query(
        src, state_dir, ckpt, validate=True, available_now=True
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = read_scd2_state(spark, state_dir)
    got = {tuple(r) for r in state.select(*STATE_COLS).collect()}
    assert got == expected
    # no duplicated versions anywhere: one row per order
    assert state.count() == orders.count()


def test_scd2_banded_null_keys_dropped_not_wedged(spark, sf_dir, tmp_path):
    """Round-14 advice pin: a batch row with NULL o_custkey once
    wedged the key-banded SCD2 stream of round 13 (band NULL made
    every replay raise). start_scd2_query drops NULL keys before
    ranking (the latest_changes null-key guard), so the stream drains
    and the state equals the non-null one-shot build."""
    import glob as _glob
    import shutil as _shutil

    from speculare_pgcdc_spark.catalog import table as t
    from speculare_pgcdc_spark.cdc.scd2 import (
        STATE_COLS,
        read_scd2_state,
        scd2_apply,
        start_scd2_query,
    )

    orders = t(spark, sf_dir, "orders").limit(200).cache()
    # poison 1 in 5 rows with a NULL key
    poisoned = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_custkey")
        ),
    )
    clean = poisoned.filter(F.col("o_custkey").isNotNull())
    expected = {
        tuple(r)
        for r in scd2_apply(None, clean).select(*STATE_COLS).collect()
    }

    feed = tmp_path / "scd2n_feed"
    os.makedirs(feed)
    tmp_out = str(tmp_path / "scd2n_chunk")
    poisoned.coalesce(1).write.parquet(tmp_out)
    part = _glob.glob(f"{tmp_out}/part-*.parquet")[0]
    _shutil.copy(part, str(feed / "00000.parquet"))

    state_dir = str(tmp_path / "scd2n_state")
    src = (
        spark.readStream.schema(poisoned.schema)
        .parquet(str(feed))
    )
    q = start_scd2_query(
        src, state_dir, str(tmp_path / "scd2n_ck"), available_now=True
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in read_scd2_state(spark, state_dir)
        .select(*STATE_COLS).collect()
    }
    assert got == expected
