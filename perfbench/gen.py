"""Seeded workload generator: wal2json v1 transactions and subscription sets.

Everything the engine receives is produced here from ``(workload, seed)``
alone, so the same seed gives byte-identical WAL rows.  Scheduling is
carried as data: each change holds ``sched_us``, its due time relative to
the start of the load, so the log itself never depends on wall time.

The same module writes the small TPC-H-ish tables (:func:`write_tables`)
the registry's tier-1 queries run on in traced runs.

Shapes pinned by the log (each checked by the oracle):

- hypertable chunk names ``_hyper_<idx>_<n>_chunk`` for idx 1 and 2
  (``events_a``/``events_b``) plus idx 9, which is absent from the lookup
  and must fall back to the raw chunk name;
- string and numeric cells side by side (``qty`` is always a JSON number,
  ``tier`` is a string on some rows and a number on others), so ``eq``/``in``
  filters must match string-typed cells only;
- deletes carry ``oldkeys`` (full replica identity) and no ``columnnames``,
  so filtered subscriptions never see them;
- a fixed share of poison: whole frames that are not JSON, and changes
  whose column names repeat.  Each is counted in :attr:`Log.poison`.
"""

from __future__ import annotations

import bisect
import json
import os
import random
from dataclasses import dataclass, field

#: WAL position step between consecutive transactions
LSN_STRIDE = 16
CHANGES_PER_TXN = 4
#: one poison unit (bad frame or bad change) per this many transactions
POISON_EVERY = 200

#: hypertable lookup (_timescaledb_catalog.hypertable analog); idx 9 is
#: deliberately missing
HYPER_LOOKUP = [(1, "events_a"), (2, "events_b")]
UNKNOWN_CHUNK = "_hyper_9_0_chunk"
#: the table catalog subscriptions validate against
CATALOG = ["events_a", "events_b", "orders", UNKNOWN_CHUNK]

EVENT_TYPES = ["click", "view", "buy", "share", "scroll"]
REGIONS = ["eu", "us", "apac", "latam"]
#: wal2json columntypes, in the order the generator writes the cells
COLUMN_TYPES = ["bigint", "bigint", "text", "text", "text", "int4",
                "numeric", "bigint"]

#: serving-shape subscription set: table-only, kind-masked, eq/in on
#: string cells, filters on numeric (never matching) and mixed cells,
#: the unknown-chunk fallback, and a filtered delete (never matching)
LIVE_SUBS = [
    "*:events_a",
    "insert,update:events_b",
    "*:events_a:event_type.eq.click",
    "insert:events_b:region.in.eu,us",
    "delete:events_a",
    "update:events_b:event_type.in.view,buy",
    "*:orders",
    f"*:{UNKNOWN_CHUNK}",
    "*:events_a:qty.eq.3",
    "*:events_b:tier.eq.2",
    "insert,update:events_a:tier.in.1,3",
    "*:events_b:region.eq.apac",
    "delete:events_b:region.eq.eu",
    "insert:orders:event_type.eq.buy",
    "update:events_a:region.in.latam,eu",
    "*:events_b:amount.eq.10",
]

#: the table snapshot_apply maintains, and its snapshot schema
APPLY_TABLE = "events_a"
APPLY_COLUMNS = {"id": "bigint", "cid": "bigint", "event_type": "string",
                 "region": "string", "tier": "string", "amount": "double",
                 "sched_us": "bigint"}

#: share of (table, kind) draws per workload
TABLE_WEIGHTS = {
    "fanout": [("events_a", 45), ("events_b", 40), ("orders", 10),
               (UNKNOWN_CHUNK, 5)],
    # one hypertable keyspace plus rows the consumer's table filter drops
    "apply": [("events_a", 90), ("events_b", 7), (UNKNOWN_CHUNK, 3)],
}
KIND_WEIGHTS = {
    "fanout": [("insert", 60), ("update", 30), ("delete", 10)],
    "apply": [("insert", 25), ("update", 60), ("delete", 15)],
}


@dataclass
class Change:
    cid: int
    table: str          # raw table name as wal2json emits it
    kind: str
    cols: dict          # column -> python value (str or number)
    poison: bool = False

    @property
    def table_name(self) -> str:
        """Normalized name: chunk -> hypertable, unknown idx -> raw."""
        for idx, name in HYPER_LOOKUP:
            if self.table.startswith(f"_hyper_{idx}_"):
                return name
        return self.table


@dataclass
class Txn:
    lsn: int
    sched_us: int
    changes: list = field(default_factory=list)
    poison_frame: bool = False

    def payload(self) -> str:
        body = {"change": [_render(c) for c in self.changes]}
        text = json.dumps(body, separators=(",", ":"))
        if self.poison_frame:
            return text[: len(text) // 2]  # truncated frame: not JSON
        return text


@dataclass
class Log:
    txns: list
    poison: int  # bad frames + bad changes

    def rows(self) -> list[tuple[int, str]]:
        return [(t.lsn, t.payload()) for t in self.txns]

    def good_changes(self):
        """(lsn, chg_idx, Change) in WAL order, poison excluded."""
        for t in self.txns:
            if t.poison_frame:
                continue
            for i, c in enumerate(t.changes):
                if not c.poison:
                    yield t.lsn, i, c


def _render(c: Change) -> dict:
    names = list(c.cols)
    vals = [c.cols[n] for n in names]
    if c.poison:
        names[1] = names[0]  # duplicated column name: must be dropped
    if c.kind == "delete":
        return {"kind": "delete", "table": c.table,
                "oldkeys": {"keynames": names,
                            "keytypes": COLUMN_TYPES[: len(names)],
                            "keyvalues": vals}}
    out = {"kind": c.kind, "table": c.table, "columnnames": names,
           "columntypes": COLUMN_TYPES[: len(names)], "columnvalues": vals}
    if c.kind == "update":
        out["oldkeys"] = {"keynames": ["id"], "keytypes": ["bigint"],
                          "keyvalues": [c.cols["id"]]}
    return out


class _Weighted:
    def __init__(self, pairs):
        self.items = [p[0] for p in pairs]
        self.cum = []
        acc = 0
        for _, w in pairs:
            acc += w
            self.cum.append(acc)

    def draw(self, rng: random.Random):
        return self.items[bisect.bisect_right(self.cum,
                                              rng.random() * self.cum[-1])]


#: Zipf exponent of the apply workload's keys
ZIPF_S = 1.1


def _zipf_keys(rng: random.Random, n_keys: int):
    """Skewed key sampler over a shuffled keyspace: hot keys repeat
    inside a batch, cold keys are rarely touched."""
    perm = list(range(n_keys))
    rng.shuffle(perm)
    return _Weighted([(perm[r], 1.0 / (r + 1) ** ZIPF_S)
                      for r in range(n_keys)])


def make_log(seed: int, n_txns: int, shape: str, rate: float,
             n_keys: int = 1_000_000) -> Log:
    """``n_txns`` transactions of ``CHANGES_PER_TXN`` changes, due at
    ``rate`` changes/s (``sched_us``).  ``shape`` is "fanout" (uniform
    keys over a large keyspace) or "apply" (Zipf keys over ``n_keys``)."""
    rng = random.Random(f"{shape}:{seed}")
    tables = _Weighted(TABLE_WEIGHTS[shape])
    kinds = _Weighted(KIND_WEIGHTS[shape])
    keys = _zipf_keys(rng, n_keys) if shape == "apply" else None
    txns, poison, cid = [], 0, 0
    for i in range(n_txns):
        sched = int(i * CHANGES_PER_TXN / rate * 1e6)
        t = Txn(lsn=(i + 1) * LSN_STRIDE, sched_us=sched)
        bad_change = i % POISON_EVERY == POISON_EVERY // 2
        t.poison_frame = i % POISON_EVERY == POISON_EVERY - 1
        poison += bad_change + t.poison_frame
        for k in range(CHANGES_PER_TXN):
            table = tables.draw(rng)
            if table.startswith("events_"):
                idx = 1 if table == "events_a" else 2
                table = f"_hyper_{idx}_{rng.randrange(4)}_chunk"
            tier = rng.randrange(1, 4)
            cols = {
                "id": keys.draw(rng) if keys else rng.randrange(n_keys),
                "cid": cid,
                "event_type": EVENT_TYPES[rng.randrange(5)],
                "region": REGIONS[rng.randrange(4)],
                "tier": str(tier) if rng.random() < 0.5 else tier,
                "qty": rng.randrange(1, 6),
                "amount": rng.randrange(1, 100_000) / 100,
                "sched_us": sched,
            }
            bad = bad_change and k == 1
            # a delete carries no column names, so only an upsert can
            # carry the duplicated-name poison
            kind = "insert" if bad else kinds.draw(rng)
            t.changes.append(Change(cid, table, kind, cols, poison=bad))
            cid += 1
        txns.append(t)
    return Log(txns, poison)


def snapshot_rows(seed: int, n_keys: int) -> list[dict]:
    """Seeded base snapshot for the apply workload: one row per key."""
    rng = random.Random(f"snapshot:{seed}")
    return [
        {"id": k, "cid": -1 - k,
         "event_type": EVENT_TYPES[rng.randrange(5)],
         "region": REGIONS[rng.randrange(4)],
         "tier": str(rng.randrange(1, 4)),
         "amount": rng.randrange(1, 100_000) / 100,
         "sched_us": 0}
        for k in range(n_keys)
    ]


#: tier-1 registry queries timed in traced runs; they read only the
#: tables :func:`write_tables` writes
QUERIES = ["q07_join_agg", "q15_groupby_agg", "q22_rows_frame",
           "q57_tpch_q5_local_supplier"]
REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_ORDERS = 15_000


def _money(rng: random.Random, hi: int) -> float:
    return rng.randrange(100, hi * 100) / 100


def write_tables(seed: int, out_dir: str) -> None:
    """Seeded region/nation/customer/supplier/orders/lineitem parquet
    files (one each, ``<name>.parquet``) in the fixture catalog's
    schema, with ~4 line items per order."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"tables:{seed}")
    day0 = dt.datetime(1995, 1, 1)
    n_cust, n_supp, n_nation = N_ORDERS // 10, 100, 25
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    orders = [(k, rng.randrange(n_cust), "FOP"[rng.randrange(3)],
               _money(rng, 400_000),
               day0 + dt.timedelta(days=rng.randrange(2500)),
               f"{rng.randrange(1, 6)}-PRIORITY") for k in range(N_ORDERS)]
    lines = []
    for k in range(N_ORDERS):
        for ln in range(1, rng.randrange(1, 8) + 1):
            lines.append((
                k, rng.randrange(200), rng.randrange(n_supp), ln,
                float(rng.randrange(1, 51)), _money(rng, 100_000),
                rng.randrange(11) / 100, rng.randrange(9) / 100,
                "NRA"[rng.randrange(3)], "OF"[rng.randrange(2)],
                day0 + dt.timedelta(days=rng.randrange(2500))))
    tables = {
        "region": ([("r_regionkey", i32), ("r_name", s)],
                   list(enumerate(REGION_NAMES))),
        "nation": ([("n_nationkey", i32), ("n_name", s),
                    ("n_regionkey", i32)],
                   [(n, f"NATION_{n}", n % 5) for n in range(n_nation)]),
        "customer": ([("c_custkey", i64), ("c_name", s),
                      ("c_nationkey", i32), ("c_acctbal", f64),
                      ("c_mktsegment", s)],
                     [(c, f"Customer#{c}", rng.randrange(n_nation),
                       _money(rng, 10_000), f"SEG{rng.randrange(5)}")
                      for c in range(n_cust)]),
        "supplier": ([("s_suppkey", i64), ("s_name", s),
                      ("s_nationkey", i32), ("s_acctbal", f64)],
                     [(k, f"Supplier#{k}", rng.randrange(n_nation),
                       _money(rng, 10_000)) for k in range(n_supp)]),
        "orders": ([("o_orderkey", i64), ("o_custkey", i64),
                    ("o_orderstatus", s), ("o_totalprice", f64),
                    ("o_orderdate", ts), ("o_orderpriority", s)], orders),
        "lineitem": ([("l_orderkey", i64), ("l_partkey", i64),
                      ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)], lines),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, (fields, rows) in tables.items():
        cols = list(zip(*rows))
        pq.write_table(
            pa.table([pa.array(c, t) for c, (_n, t) in zip(cols, fields)],
                     names=[n for n, _t in fields]),
            os.path.join(out_dir, f"{name}.parquet"))
