"""Engine facade: the user-facing composition of EP1/EP2/EP3 plus the
batch analytics surface, including hypothesis fuzz of the DSL parser
(it must never crash in any way other than the reference's 400s)."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from speculare_pgcdc_spark.cdc.feedgen import FEED_TABLES, lookup_df
from speculare_pgcdc_spark.dsl import DELETE, DslError, parse_ws_query
from speculare_pgcdc_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_sql_surface(eng):
    n = eng.sql("SELECT COUNT(*) AS n FROM lineitem").first().n
    assert n == eng.table("lineitem").count() > 0


def test_query_registry_surface(eng):
    assert eng.query("q15_groupby_agg").count() > 0


def test_subscribe_validates_like_reference(eng):
    watch = eng.subscribe(1, "insert,update:events:event_type.eq.click")
    assert watch.change_table == "events"
    with pytest.raises(DslError):
        eng.subscribe(2, "insert:not_a_table")
    with pytest.raises(DslError):
        eng.subscribe(3, "bogus_type:events")
    eng.unsubscribe(1)


def test_subscriptions_frame_cached_until_registry_changes(
    spark, monkeypatch
):
    """Engine.subscriptions() returns the same frame until the registry
    changes, and a new one after each subscribe, unsubscribe and
    re-subscribe of an id with another DSL. A subscribe that lands
    while a frame is being built is served on the next call."""
    from speculare_pgcdc_spark import engine as engine_mod

    eng = Engine(spark, tables=FEED_TABLES)
    eng.subscribe(1, "insert:events_a")
    seen = [eng.subscriptions()]
    assert eng.subscriptions() is seen[-1]
    for change in (
        lambda: eng.subscribe(2, "*:events_b"),
        lambda: eng.subscribe(2, "delete:events_b"),
        lambda: eng.unsubscribe(1),
    ):
        change()
        seen.append(eng.subscriptions())
        assert all(seen[-1] is not f for f in seen[:-1])
        assert eng.subscriptions() is seen[-1]
    eng.unsubscribe(1)  # no longer registered: nothing changes
    assert eng.subscriptions() is seen[-1]
    assert [tuple(r) for r in seen[-1].select(
        "sub_id", "change_flag").collect()] == [(2, DELETE)]

    real = engine_mod.subscriptions_df

    def racing(*a):
        eng.subscribe(3, "*:events_a")  # after the registry was read
        return real(*a)

    monkeypatch.setattr(engine_mod, "subscriptions_df", racing)
    eng.subscribe(4, "*:events_a")
    assert {r.sub_id for r in eng.subscriptions().collect()} == {2, 4}
    monkeypatch.undo()
    assert {r.sub_id for r in eng.subscriptions().collect()} == {2, 3, 4}


def test_end_to_end_watch(spark, tmp_path):
    """EP1 subscribe -> EP2/EP3 watch: events fan out to the outbox."""
    eng = Engine(spark, "/root/testdata/sf0.001", tables=FEED_TABLES)
    eng.subscribe(1, "insert:events_a")
    feed_dir, out_dir = str(tmp_path / "feed"), str(tmp_path / "out")
    os.makedirs(feed_dir)
    with open(f"{feed_dir}/f1.json", "w") as f:
        for i in range(3):
            f.write(
                json.dumps(
                    {
                        "change": [
                            {
                                "kind": "insert",
                                "table": "events_a",
                                "columnnames": ["id"],
                                "columnvalues": [i],
                            }
                        ]
                    }
                )
                + "\n"
            )
    q = eng.watch(feed_dir, out_dir, str(tmp_path / "ckpt"),
                  lookup=lookup_df(spark))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with open(os.path.join(out_dir, "1", "outbox.jsonl")) as f:
        assert len([ln for ln in f if ln.strip()]) == 3


# -- DSL fuzz (pure python, no Spark) ---------------------------------

TABLES = ["events", "orders"]


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=40))
def test_dsl_parser_never_crashes(q):
    """Any input either parses to a WatchFor or raises DslError — the
    two outcomes the reference's handler maps to 101/400; no other
    exception type may escape (panic-freedom analog)."""
    try:
        watch = parse_ws_query(q, TABLES)
    except DslError:
        return
    assert watch.change_table in TABLES
    assert 0 < watch.change_flag <= 14


@settings(max_examples=200, deadline=None)
@given(
    kinds=st.lists(
        st.sampled_from(["insert", "update", "delete", "*", "nope"]),
        min_size=1,
        max_size=4,
    ),
    table=st.sampled_from(TABLES),
    col=st.text(
        alphabet=st.characters(exclude_characters=":.,"), max_size=8
    ),
    op=st.sampled_from(["eq", "in", "gt", ""]),
    val=st.text(alphabet=st.characters(exclude_characters=":"), max_size=12),
)
def test_dsl_structured_roundtrip(kinds, table, col, op, val):
    """Structured inputs: known kinds fold into the mask, unknown ops
    drop the filter silently (query.rs:71-73), valid eq/in keep the
    value verbatim (dots allowed in value)."""
    q = ",".join(kinds) + f":{table}:{col}.{op}.{val}"
    known = [k for k in kinds if k != "nope"]
    if not known:
        with pytest.raises(DslError):
            parse_ws_query(q, TABLES)
        return
    watch = parse_ws_query(q, TABLES)
    assert watch.change_table == table
    if op == "eq":
        assert watch.specific and watch.specific.values == (val,)
    elif op == "in":
        assert watch.specific and watch.specific.values == tuple(
            val.split(",")
        )
    else:
        assert watch.specific is None


def test_end_to_end_watch_db(spark, tmp_path):
    """EP2 over the database-poll source: subscribe, append WAL rows to
    the stand-in DB, watch_db fans matching changes out."""
    from speculare_pgcdc_spark.streaming import wal_source

    db = str(tmp_path / "wal.sqlite")
    wal_source.ensure_wal_tables(db)
    for lsn, rid in [(5, 1), (9, 2)]:
        wal_source.append_wal(
            db,
            lsn,
            json.dumps(
                {
                    "change": [
                        {
                            "kind": "insert",
                            "table": "events_a",
                            "columnnames": ["id"],
                            "columnvalues": [rid],
                        }
                    ]
                }
            ),
        )
    eng = Engine(spark, "/root/testdata/sf0.001", tables=FEED_TABLES)
    eng.subscribe(7, "insert:events_a")
    out_dir = str(tmp_path / "out")
    q = eng.watch_db(db, out_dir, str(tmp_path / "ckpt"),
                     lookup=lookup_df(spark))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with open(os.path.join(out_dir, "7", "outbox.jsonl")) as f:
        assert len([ln for ln in f if ln.strip()]) == 2


def test_watch_db_drain_delivers_whole_backlog(spark, sf_dir, tmp_path):
    """One available_now drain of watch_db delivers every committed
    change, not just the first 10,000 LSNs: Spark's AvailableNow
    wrapper fixes its target from a single latestOffset() call on the
    Python source, so the drain must not bound that poll."""
    import sqlite3

    from speculare_pgcdc_spark.streaming import wal_source
    from speculare_pgcdc_spark.streaming.fanout import read_outbox

    n = 10_050
    db = str(tmp_path / "wal.sqlite")
    wal_source.ensure_wal_tables(db)
    con = sqlite3.connect(db)
    con.executemany(
        "INSERT INTO wal VALUES (?, ?)",
        [
            (lsn, json.dumps({"change": [{
                "kind": "insert", "table": "events_a",
                "columnnames": ["id"], "columnvalues": [lsn],
            }]}))
            for lsn in range(1, n + 1)
        ],
    )
    con.commit()
    con.close()
    eng = Engine(spark, sf_dir, tables=FEED_TABLES)
    eng.subscribe(7, "insert:events_a")
    out_dir = str(tmp_path / "out")
    q = eng.watch_db(db, out_dir, str(tmp_path / "ckpt"),
                     lookup=lookup_df(spark), exactly_once=True,
                     available_now=True)
    assert q.awaitTermination(300)
    got = [json.loads(p)["columnvalues"][0] for p in read_outbox(out_dir, 7)]
    assert got == list(range(1, n + 1))


def test_engine_watch_matview_facade(spark, tmp_path):
    """Round-12 facade: eng.watch_matview maintains snapshot + IVM
    view from a file feed in one call (the q97 consumer without
    touching cdc internals)."""
    from pyspark.sql import functions as F

    feed_dir = str(tmp_path / "feed")
    snap = str(tmp_path / "snap")
    mv = str(tmp_path / "mv")
    os.makedirs(feed_dir)
    cols = {"id": "bigint", "grp": "string", "v": "bigint"}
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, grp string, v bigint"
    )
    base.write.parquet(snap)

    def aggs():
        return [
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sv"),
        ]

    base.groupBy("grp").agg(*aggs()).write.parquet(mv)
    with open(os.path.join(feed_dir, "f0.json"), "w") as f:
        f.write(json.dumps({"change": [{
            "kind": "insert", "table": "t",
            "columnnames": ["id", "grp", "v"],
            "columnvalues": [3, "a", 5],
        }]}) + "\n")

    eng = Engine(spark, "/root/testdata/sf0.001")
    q = eng.watch_matview(
        feed_dir, snap, mv, str(tmp_path / "ck"),
        "id", cols, "grp", aggs, available_now=True,
    )
    q.awaitTermination(300)
    q.stop()
    got = {r["grp"]: (r["n"], r["sv"])
           for r in spark.read.parquet(mv).collect()}
    assert got == {"a": (2, 15), "b": (1, 20)}
