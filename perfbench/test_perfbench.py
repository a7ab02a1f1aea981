"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle  # noqa: E402
from perfbench.measure import Spans, tail  # noqa: E402


def test_same_seed_same_log():
    a = gen.make_log(7, 500, "fanout", rate=2000)
    b = gen.make_log(7, 500, "fanout", rate=2000)
    assert a.rows() == b.rows()
    assert a.poison == b.poison > 0
    assert gen.make_log(8, 500, "fanout", rate=2000).rows() != a.rows()
    lsns = [lsn for lsn, _p in a.rows()]
    assert lsns == sorted(set(lsns))


def test_log_carries_the_pinned_shapes():
    log = gen.make_log(3, 2000, "fanout", rate=2000)
    changes = [c for t in log.txns for c in t.changes]
    assert {c.table_name for c in changes} >= set(gen.CATALOG)
    tiers = {type(c.cols["tier"]) for c in changes}
    assert tiers == {str, int}
    bad_frames = sum(t.poison_frame for t in log.txns)
    bad_changes = sum(c.poison for c in changes)
    assert bad_frames + bad_changes == log.poison
    for t in log.txns:
        if t.poison_frame:
            with pytest.raises(json.JSONDecodeError):
                json.loads(t.payload())


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail(range(1, 1001)) == (99.0, 990, 1000)
    assert tail(range(1, 10001)) == (99.9, 9990, 10000)
    assert tail(range(1, 101)) == (90.0, 90, 100)
    with pytest.raises(ValueError):
        tail(range(15))


def test_same_seed_same_tables(tmp_path):
    import pyarrow.parquet as pq

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(seed, str(tmp_path / d))
    read = lambda d: pq.read_table(tmp_path / d / "lineitem.parquet")  # noqa
    assert read("a").equals(read("b"))
    assert not read("a").equals(read("c"))


def test_result_errors_compares_columns_by_name_and_rows_as_multiset():
    got = [(1, 2.5), (2, 0.0), (2, 0.0)]
    want = [(0.0, 2), (2.5, 1), (-0.0, 2)]
    assert oracle.result_errors(["k", "v"], got, ["V", "K"], want) == 0
    assert oracle.result_errors(["k", "v"], got[:2], ["v", "k"], want) == 1
    assert oracle.result_errors(["k", "v"], got, ["v", "x"], want) == 3


def test_delivery_errors_counts_missing_extra_and_order():
    assert oracle.delivery_errors([1, 2, 3], [1, 2, 3]) == 0
    assert oracle.delivery_errors([1, 2, 3], [1, 3]) == 1
    assert oracle.delivery_errors([1, 2, 3], [1, 2, 2, 3, 9]) == 2
    assert oracle.delivery_errors([1, 2, 3], [2, 1, 3]) == 1


def test_self_time_subtracts_children():
    sp = Spans("t")
    root = sp.add("batch", "trigger", 0.0, 10.0)
    add = sp.add("addBatch", "sink", 2.0, 8.0, root)
    sp.add("deliver", "fanout.deliver", 3.0, 4.0, add)
    sp.add("deliver", "fanout.deliver", 3.5, 5.0, add)
    assert sp.self_times(lambda s: True) == {"trigger": 4.0, "sink": 4.0,
                               "fanout.deliver": 2.5}


def test_benchmark_json_names_match_run():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def _tiny_log() -> gen.Log:
    def ch(cid, table, kind, poison=False, **cols):
        base = {"id": cid, "cid": cid, "event_type": "click",
                "region": "eu", "tier": "2", "qty": 3, "amount": 1.5,
                "sched_us": 0}
        base.update(cols)
        return gen.Change(cid, table, kind, base, poison=poison)

    return gen.Log([
        gen.Txn(16, 0, [
            ch(0, "_hyper_1_0_chunk", "insert"),
            ch(1, "_hyper_1_1_chunk", "insert", tier=2),  # numeric cell
            ch(2, "_hyper_2_0_chunk", "update", region="us", tier=2),
            ch(3, "_hyper_9_0_chunk", "delete"),
        ]),
        gen.Txn(32, 0, [
            ch(4, "orders", "insert", event_type="buy"),
            ch(5, "_hyper_2_1_chunk", "delete", region="eu"),
            ch(6, "_hyper_1_2_chunk", "insert", poison=True),
            ch(7, "_hyper_1_0_chunk", "update", tier="3", region="latam"),
        ]),
        gen.Txn(48, 0, [ch(8, "_hyper_2_0_chunk", "insert")],
                poison_frame=True),
        gen.Txn(64, 0, [
            ch(9, "_hyper_2_3_chunk", "insert", tier="2", region="apac"),
            ch(10, "_hyper_1_3_chunk", "delete", event_type="click"),
        ]),
    ], poison=2)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = ROOT
    from speculare_pgcdc_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_agrees_with_route(spark):
    from speculare_pgcdc_spark.cdc.pipeline import (
        normalize_hypertables, parse_wal2json, route, subscriptions_df,
    )

    log = _tiny_log()
    payloads = spark.createDataFrame(log.rows(), "lsn bigint, payload string")
    lookup = spark.createDataFrame(gen.HYPER_LOOKUP,
                                   "idx int, table_name string")
    changes = normalize_hypertables(
        parse_wal2json(payloads, seq_col="lsn"), lookup)
    subs = subscriptions_df(spark, list(enumerate(gen.LIVE_SUBS)),
                            gen.CATALOG)
    rows = route(changes, subs).select(
        "sub_id", "seq", "chg_idx", "change_json").collect()
    got = {d: [] for d in gen.LIVE_SUBS}
    for r in sorted(rows, key=lambda r: (r.sub_id, r.seq, r.chg_idx)):
        got[gen.LIVE_SUBS[r.sub_id]].append(oracle.change_id(r.change_json))
    want = oracle.expected_deliveries(log, gen.LIVE_SUBS)
    assert got == want
    # the string-cell quirk: the numeric tier=2 on cid 1/2 never matches
    assert want["*:events_b:tier.eq.2"] == [9]
    assert want["*:events_a:qty.eq.3"] == []
    assert want[f"*:{gen.UNKNOWN_CHUNK}"] == [3]
