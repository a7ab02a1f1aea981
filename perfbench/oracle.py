"""Independent oracle, plain Python over the generated log.

Nothing here imports the engine: routing, the DSL grammar and the
latest-per-key apply are re-derived from the reference's rules so a
defect in the engine cannot hide in a shared helper.  Query results are
compared with the registry's DuckDB oracle SQL the way the fixture
tests compare them: columns by name, rows as a multiset.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import Counter
from decimal import Decimal

_KIND_BITS = {"insert": 2, "update": 4, "delete": 8, "*": 14}


def parse_sub(dsl: str):
    """``kinds:table[:col.op.v[,v]*]`` -> (kind mask, table, filter)."""
    parts = dsl.split(":")
    mask = 0
    for k in parts[0].split(","):
        mask |= _KIND_BITS.get(k, 0)
    flt = None
    if len(parts) > 2:
        col, op, val = parts[2].split(".", 2)
        if op in ("eq", "in"):
            flt = (col, val.split(",") if op == "in" else [val])
    return mask, parts[1], flt


def matches(sub, change) -> bool:
    mask, table, flt = sub
    if change.table_name != table or not mask & _KIND_BITS[change.kind]:
        return False
    if flt is None:
        return True
    if change.kind == "delete":  # no columnnames: filters never match
        return False
    cell = change.cols.get(flt[0])
    return isinstance(cell, str) and cell in flt[1]


def expected_deliveries(log, dsls) -> dict[str, list[int]]:
    """Per subscription, the change ids it must receive, in WAL order."""
    subs = {d: parse_sub(d) for d in dsls}
    out: dict[str, list[int]] = {d: [] for d in dsls}
    for _lsn, _idx, c in log.good_changes():
        for d, s in subs.items():
            if matches(s, c):
                out[d].append(c.cid)
    return out


def change_id(line: str) -> int:
    """The ``cid`` cell of a delivered change payload."""
    ch = json.loads(line)
    if "columnnames" in ch:
        names, vals = ch["columnnames"], ch["columnvalues"]
    else:
        names, vals = ch["oldkeys"]["keynames"], ch["oldkeys"]["keyvalues"]
    return int(vals[names.index("cid")])


def delivery_errors(expected: list[int], got: list[int]) -> int:
    """Rows missing + rows extra or duplicated + adjacent order breaks."""
    exp_pos = {c: i for i, c in enumerate(expected)}
    seen: dict[int, int] = {}
    for c in got:
        seen[c] = seen.get(c, 0) + 1
    missing = sum(1 for c in expected if c not in seen)
    extra = sum(n - (1 if c in exp_pos else 0) for c, n in seen.items())
    order = [exp_pos[c] for c in got if c in exp_pos]
    breaks = sum(1 for a, b in zip(order, order[1:]) if b < a)
    return missing + extra + breaks


#: snapshot column -> python cast of the change's lenient string cell
APPLY_COLUMNS = {
    "id": int, "cid": int, "event_type": str, "region": str, "tier": str,
    "amount": float, "sched_us": int,
}


def expected_snapshot(base_rows, log, tables) -> dict[int, dict]:
    """One-shot latest-per-key apply of the whole log onto ``base_rows``."""
    snap = {r["id"]: dict(r) for r in base_rows}
    for _lsn, _idx, c in log.good_changes():
        if c.table_name not in tables:
            continue
        if c.kind == "delete":
            snap.pop(c.cols["id"], None)
        else:
            snap[c.cols["id"]] = {k: cast(c.cols[k])
                                  for k, cast in APPLY_COLUMNS.items()}
    return snap


def view_of(rows) -> dict[str, tuple[int, Decimal]]:
    """The grouped aggregate view: per event_type, count and exact sum."""
    out: dict[str, tuple[int, Decimal]] = {}
    for r in rows:
        n, s = out.get(r["event_type"], (0, Decimal(0)))
        out[r["event_type"]] = (n + 1, s + Decimal(str(r["amount"])))
    return out


def snapshot_errors(expected: dict[int, dict], got_rows) -> int:
    """Keys wrong, missing, extra or duplicated in a snapshot read."""
    seen: dict[int, int] = {}
    bad = 0
    for r in got_rows:
        k = r["id"]
        seen[k] = seen.get(k, 0) + 1
        want = expected.get(k)
        if seen[k] > 1 or want is None or any(
            r[c] != want[c] for c in APPLY_COLUMNS
        ):
            bad += 1
    return bad + sum(1 for k in expected if k not in seen)


def _cell(v):
    """One canonical form per value: floats exact (the engine's money
    sums are decimal-exact), decimals as floats, timestamps naive."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)  # -0.0 -> 0.0
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def result_errors(got_cols, got_rows, want_cols, want_rows) -> int:
    """Rows in one result and not the other (as multisets), after
    ordering columns by name; every row counts when the names differ."""
    names = [c.lower() for c in got_cols]
    if sorted(names) != sorted(c.lower() for c in want_cols):
        return max(len(got_rows), len(want_rows), 1)

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        return Counter(tuple(_cell(r[i]) for i in order) for r in rows)

    got, want = canon(got_cols, got_rows), canon(want_cols, want_rows)
    return sum(((got - want) + (want - got)).values())
