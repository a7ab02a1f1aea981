"""The two workloads.  Each returns its latency metrics and fills
``run.layer``, ``run.detail`` and the oracle counts on ``run``; the
entry point adds ``setup_s`` and ``peak_rss_mb``."""

from __future__ import annotations

import os
from types import SimpleNamespace

from perfbench import gen, oracle
from perfbench.harness import (
    Load, Sidecar, TimedDeliver, batches_of, read_deliver_spans,
)
from perfbench.measure import mean, median, percentile, tail

#: open-loop warm-up excluded from latency.  The set-ups run only empty
#: triggers, so the data path starts cold: trigger time falls by about
#: half over the first ~10 data triggers (~8 s of live_fanout; the
#: consumer's triggers are longer).  Longer warm-ups did not fit the
#: time a full comparison may take.
LIVE_WARM_S = 8
APPLY_WARM_S = 10
#: seconds the load process waits for the tail after its last send
TAIL_TIMEOUT_S = 60
LIVE_RATE = 250        # changes/s
APPLY_RATE = 250       # changes/s
APPLY_KEYS = 10_000


def _latencies(r, e2e_name: str, samples_ms: list[float]) -> dict:
    """p50 and p99 of a run's latency samples; p99 needs at least ten
    samples beyond it."""
    s = sorted(samples_ms)
    if tail(s)[0] < 99:
        raise RuntimeError(f"{len(s)} latency samples: too few for p99")
    p50, p99 = median(s), percentile(s, 99)
    r.detail.update({f"{e2e_name}_p50_ms": p50, f"{e2e_name}_p99_ms": p99,
                     f"{e2e_name}_samples": len(s)})
    return {"p50_ms": p50, "p99_ms": p99}


def _outbox_check(r, out_dir: str, ids: dict, expected: dict) -> int:
    """Each subscriber's outbox against the oracle; returns lines read."""
    from speculare_pgcdc_spark.streaming.fanout import read_outbox

    total = 0
    for sid, dsl in ids.items():
        got = [oracle.change_id(ln) for ln in read_outbox(out_dir, sid)]
        total += len(got)
        r.check(f"outbox {dsl}", len(expected[dsl]),
                oracle.delivery_errors(expected[dsl], got))
    return total


def live_fanout(r) -> dict:
    """Open loop at LIVE_RATE into Engine.watch_db, 16 subscriptions,
    up to nproc-1 of them WebSocket clients through WsSidecar."""
    from speculare_pgcdc_spark.engine import Engine

    n_txns = (LIVE_WARM_S + r.seconds) * LIVE_RATE // gen.CHANGES_PER_TXN
    log = gen.make_log(r.seed, n_txns, "fanout", rate=LIVE_RATE)
    n_ws = max(1, min(4, r.cpus) - 1)  # the load's sqlite connection + ws
    ws_subs, eng_subs = gen.LIVE_SUBS[:n_ws], gen.LIVE_SUBS[n_ws:]
    eng = Engine(spark=r.spark, tables=gen.CATALOG)
    ids = {100 + i: d for i, d in enumerate(eng_subs)}
    for sid, d in ids.items():
        eng.subscribe(sid, d)
    lookup = r.lookup()

    def start(i):
        h = SimpleNamespace(db=r.fresh_wal(f"wal{i}"), out=r.path(f"out{i}"),
                            spans=r.path(f"deliver{i}"))
        os.makedirs(h.spans)
        h.query = eng.watch_db(
            h.db, h.out, r.path(f"ckpt{i}"), lookup=lookup,
            deliver=TimedDeliver(h.out, h.spans) if r.trace else None)
        return h

    h = r.setups(start)
    q = h.query
    sidecar, load = Sidecar(eng, h.out), None
    try:
        # the sidecar hands out ids 1.. in connection order
        ids.update({i + 1: d for i, d in enumerate(ws_subs)})
        load = Load(r, "live", {
            "mode": "live", "shape": "fanout", "seed": r.seed,
            "n_txns": n_txns, "rate": LIVE_RATE, "db": h.db,
            "ws_port": sidecar.port, "ws_subs": ws_subs,
            "out_dir": h.out, "all_sub_ids": sorted(ids),
            "trace": r.trace, "tail_timeout_s": TAIL_TIMEOUT_S,
        })
        load.wait_ready()
        load.go()
        res = load.result(LIVE_WARM_S + r.seconds + TAIL_TIMEOUT_S + 30)
    finally:
        if load is not None:
            load.stop()
        sidecar.close()
        q.stop()

    expected = oracle.expected_deliveries(log, gen.LIVE_SUBS)
    t0 = res["t0"]
    warm_ns = LIVE_WARM_S * 10**9
    sched = {c.cid: c.cols["sched_us"] * 1000 for _l, _i, c in log.good_changes()}
    lat = []
    for d, frames in res["frames"].items():
        got = [cid for _t, cid in frames]
        r.check(f"ws {d}", len(expected[d]),
                oracle.delivery_errors(expected[d], got))
        lat.extend((t - t0 - sched[cid]) / 1e6 for t, cid in frames
                   if sched[cid] >= warm_ns)
    out_lines = _outbox_check(r, h.out, ids, expected)

    batches = batches_of(q)
    r.trigger_layers(batches, res["marks"])
    r.layer["sink.bytes_per_change"] = sum(
        os.path.getsize(os.path.join(h.out, s, "outbox.jsonl"))
        for s in os.listdir(h.out)) / max(1, len(sched))
    r.detail.update({
        "gen.late_ms": tail(res["late_ms"])[1],
        "ws.frames": sum(len(f) for f in res["frames"].values()),
        "fanout.rows": out_lines,
        "ws_subscribers": n_ws,
    })
    if r.trace:
        recs = read_deliver_spans(h.spans)
        r.deliver_spans(batches, recs)
        first = {int(s): v for s, v in res["first_seen"].items()}
        push, outbox = [], []
        ws_ids = {d: i + 1 for i, d in enumerate(ws_subs)}
        for d, frames in res["frames"].items():
            seen = first.get(ws_ids[d], {})
            push.extend((t - seen[str(c)]) / 1e6 for t, c in frames
                        if str(c) in seen)
        for s, seen in first.items():
            outbox.extend((ns - t0 - sched[int(c)]) / 1e6
                          for c, ns in seen.items())
        per_batch: dict[int, float] = {}
        for x in recs:
            per_batch[x["batch"]] = (per_batch.get(x["batch"], 0.0)
                                     + (x["end"] - x["start"]) * 1e3)
        r.detail.update({
            "fanout.deliver_ms": mean(list(per_batch.values())),
            "fanout.deliver_calls": len(recs),
            "ws.push_lag_ms": median(push) if push else None,
            "fanout.outbox_p50_ms": median(outbox) if outbox else None,
        })
        r.probe_layers(log)

    return _latencies(r, "deliver", lat)


def _write_seed(rows: list[dict], snap_dir: str, view_dir: str) -> None:
    """The seeded snapshot and its view as parquet, in the types the
    consumer writes (the view's sum is decimal(28,2))."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"bigint": pa.int64(), "string": pa.string(),
             "double": pa.float64()}
    snap = pa.Table.from_pylist(rows, pa.schema(
        [(c, types[t]) for c, t in gen.APPLY_COLUMNS.items()]))
    view = oracle.view_of(rows)
    views = pa.table({
        "event_type": pa.array(list(view), pa.string()),
        "n": pa.array([n for n, _s in view.values()], pa.int64()),
        "sv": pa.array([s for _n, s in view.values()], pa.decimal128(28, 2)),
    })
    for d, t in ((snap_dir, snap), (view_dir, views)):
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))


def _view_aggs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("amount").cast("decimal(18,2)")).alias("sv")]


def snapshot_apply(r) -> dict:
    """Open loop at APPLY_RATE of update/delete-heavy Zipf-keyed changes
    into start_matview_query over a seeded APPLY_KEYS parquet snapshot
    and a grouped aggregate view."""
    import shutil

    import pyarrow.parquet as pq
    from speculare_pgcdc_spark.cdc.apply import start_matview_query
    from speculare_pgcdc_spark.cdc.pipeline import (
        normalize_hypertables, parse_wal2json,
    )
    from speculare_pgcdc_spark.streaming import wal_source

    n_txns = (APPLY_WARM_S + r.seconds) * APPLY_RATE // gen.CHANGES_PER_TXN
    log = gen.make_log(r.seed, n_txns, "apply", rate=APPLY_RATE,
                       n_keys=APPLY_KEYS)
    base_rows = gen.snapshot_rows(r.seed, APPLY_KEYS)
    seed_snap, seed_view = r.path("seed_snap"), r.path("seed_view")
    _write_seed(base_rows, seed_snap, seed_view)
    wal_source.register(r.spark)
    lookup = r.lookup()

    def start(i):
        h = SimpleNamespace(db=r.fresh_wal(f"wal{i}"), snap=r.path(f"snap{i}"),
                            view=r.path(f"view{i}"), ckpt=r.path(f"ckpt{i}"))
        shutil.copytree(seed_snap, h.snap)
        shutil.copytree(seed_view, h.view)
        src = (r.spark.readStream.format("wal_poll").option("path", h.db)
               .load().select("lsn", "payload"))
        stream = normalize_hypertables(parse_wal2json(src, seq_col="lsn"),
                                       lookup)
        h.query = start_matview_query(
            stream, h.snap, h.view, h.ckpt, "id", gen.APPLY_COLUMNS,
            "event_type", _view_aggs, tables=[gen.APPLY_TABLE])
        return h

    h = r.setups(start)
    q, load = h.query, None
    try:
        load = Load(r, "apply", {
            "mode": "apply", "shape": "apply", "seed": r.seed,
            "n_txns": n_txns, "rate": APPLY_RATE, "n_keys": APPLY_KEYS,
            "db": h.db, "snapshot_dir": h.snap, "checkpoint_dir": h.ckpt,
            "tail_timeout_s": TAIL_TIMEOUT_S,
        })
        load.wait_ready()
        load.go()
        res = load.result(APPLY_WARM_S + r.seconds + TAIL_TIMEOUT_S + 30)
    finally:
        if load is not None:
            load.stop()
        q.stop()

    # freshness: due time -> first visible snapshot whose batch covers it
    t0, warm_ns = res["t0"], APPLY_WARM_S * 10**9
    vis = sorted((end, ns) for _b, end, ns in res["batches"])
    fresh, j = [], 0
    applied = [(lsn, c) for lsn, _i, c in log.good_changes()
               if c.table_name == gen.APPLY_TABLE]
    for lsn, c in applied:
        while j < len(vis) and vis[j][0] < lsn:
            j += 1
        if j == len(vis):
            break
        s = c.cols["sched_us"] * 1000
        if s >= warm_ns:
            fresh.append((vis[j][1] - t0 - s) / 1e6)
    n_window = sum(1 for _l, c in applied if c.cols["sched_us"] * 1000 >= warm_ns)
    r.check("changes made visible", n_window, n_window - len(fresh))

    want = oracle.expected_snapshot(base_rows, log, {gen.APPLY_TABLE})
    got = pq.read_table(h.snap).to_pylist()
    r.check("snapshot keys", len(want), oracle.snapshot_errors(want, got))
    want_view = oracle.view_of(want.values())
    got_view = {x["event_type"]: (x["n"], x["sv"])
                for x in pq.read_table(h.view).to_pylist()}
    r.check("view groups", len(want_view), sum(
        1 for k in set(want_view) | set(got_view)
        if want_view.get(k) != got_view.get(k)))

    batches = batches_of(q)
    r.trigger_layers(batches, res["marks"])
    written = sum(os.path.getsize(os.path.join(dp, f))
                  for d in (h.snap, h.view)
                  for dp, _dn, fs in os.walk(d) for f in fs
                  if f.endswith(".parquet"))
    per_batch_changes = median([b["rows"] for b in batches]) * gen.CHANGES_PER_TXN
    r.layer["sink.bytes_per_change"] = written / max(1, per_batch_changes)
    r.detail.update({"gen.late_ms": tail(res["late_ms"])[1],
                     "apply.snapshot_rows": len(got),
                     "apply.add_batch_ms": r.layer["sink.add_batch_ms"]})
    if r.trace:
        r.probe_layers(log, seed_snap)
    return _latencies(r, "fresh", fresh)


WORKLOADS = {
    "live_fanout": live_fanout,
    "snapshot_apply": snapshot_apply,
}
