"""The load process: one process, separate from the Spark driver.

It regenerates the workload's log from the seed, appends it to the
SQLite WAL table on a fixed schedule (an open loop), and observes the engine only from outside: WebSocket frames
for fan-out, the consumer's snapshot directory and checkpoint commit log
for apply, and (traced) every subscriber's outbox.

Usage: ``python3 load.py <config.json>``; writes ``config["result"]``.
It prints ``ready`` once connected and waits for a line on stdin before
the first send.  Clocks are ``time.monotonic_ns`` (system
wide, so the driver can compare them).
"""

from __future__ import annotations

import asyncio
import base64
import json
import os
import sqlite3
import sys
import threading
import time
from urllib.parse import quote

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, oracle  # noqa: E402


def _connect(db: str) -> sqlite3.Connection:
    con = sqlite3.connect(db, timeout=30)
    con.execute("PRAGMA journal_mode=WAL")
    con.execute("PRAGMA synchronous=NORMAL")
    return con


class OpenLoop(threading.Thread):
    """Appends each transaction when it falls due (``t0 + sched_us``),
    whatever the engine is doing; records lateness and the newest LSN
    per commit."""

    def __init__(self, db: str, log) -> None:
        super().__init__(daemon=True)
        self.db = db
        self.rows = log.rows()
        self.sched_ns = [t.sched_us * 1000 for t in log.txns]
        self.t0 = 0
        self.late_ms: list[float] = []
        self.marks: list[tuple[int, int]] = []  # (commit ns, max lsn)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # surfaced by the main thread
            self.error = e

    def _run(self) -> None:
        con = _connect(self.db)
        try:
            i, n = 0, len(self.rows)
            while i < n:
                now = time.monotonic_ns()
                j = i
                while j < n and self.t0 + self.sched_ns[j] <= now:
                    j += 1
                if j == i:
                    wait = (self.t0 + self.sched_ns[i] - now) / 1e9
                    time.sleep(min(max(wait, 0.0005), 0.005))
                    continue
                con.executemany("INSERT INTO wal VALUES (?, ?)",
                                self.rows[i:j])
                con.commit()
                done = time.monotonic_ns()
                self.late_ms.extend(
                    (done - self.t0 - self.sched_ns[k]) / 1e6
                    for k in range(i, j)
                )
                self.marks.append((done, self.rows[j - 1][0]))
                i = j
        finally:
            con.close()


class OutboxWatch(threading.Thread):
    """Polls every subscriber's outbox and records when each delivered
    line first becomes visible there (traced runs only)."""

    def __init__(self, out_dir: str, sub_ids) -> None:
        super().__init__(daemon=True)
        from speculare_pgcdc_spark.service.ws_sidecar import OutboxTailer

        self.tailers = {s: OutboxTailer(out_dir, s) for s in sub_ids}
        self.first_seen: dict[int, dict[int, int]] = {s: {} for s in sub_ids}
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            for s, t in self.tailers.items():
                lines = t.poll()
                now = time.monotonic_ns()
                seen = self.first_seen[s]
                for ln in lines:
                    seen.setdefault(oracle.change_id(ln), now)
            self.stop.wait(0.01)


async def _ws_connect(port: int, dsl: str):
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    key = base64.b64encode(os.urandom(16)).decode()
    writer.write(
        (f"GET /ws?query={quote(dsl)} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
         "Upgrade: websocket\r\nConnection: Upgrade\r\n"
         f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
         ).encode()
    )
    head = await reader.readuntil(b"\r\n\r\n")
    if b" 101 " not in head.split(b"\r\n", 1)[0]:
        raise RuntimeError(f"ws upgrade refused for {dsl!r}: {head[:80]!r}")
    return reader, writer


async def _ws_receive(reader, expect: int, got: list) -> None:
    """Append (receipt ns, payload bytes) per text frame until
    ``expect`` frames arrived."""
    while len(got) < expect:
        b0, b1 = await reader.readexactly(2)
        n = b1 & 0x7F
        if n >= 126:
            n = int.from_bytes(await reader.readexactly(2 if n == 126 else 8),
                               "big")
        data = await reader.readexactly(n)
        if b0 & 0x0F == 0x8:
            raise RuntimeError("server closed the websocket early")
        if b0 & 0x0F == 0x1:
            got.append((time.monotonic_ns(), data))


async def _ws_close(writer) -> None:
    mask = os.urandom(4)
    body = (1000).to_bytes(2, "big")
    writer.write(bytes([0x88, 0x80 | len(body)]) + mask
                 + bytes(b ^ mask[i % 4] for i, b in enumerate(body)))
    await writer.drain()
    writer.close()


def _wait_go(loop_thread: OpenLoop) -> None:
    print("ready", flush=True)
    if not sys.stdin.readline():  # the driver went away: send nothing
        sys.exit(1)
    loop_thread.t0 = time.monotonic_ns()
    loop_thread.start()


async def live(cfg: dict, log, sender: OpenLoop) -> dict:
    """Open-loop fan-out: WebSocket clients receive their frames."""
    dsls = cfg["ws_subs"]
    expect = oracle.expected_deliveries(log, dsls)
    conns = []
    for d in dsls:  # sequential, so the sidecar assigns ids in order
        conns.append(await _ws_connect(cfg["ws_port"], d))
    watch = None
    if cfg["trace"]:
        watch = OutboxWatch(cfg["out_dir"], cfg["all_sub_ids"])
        watch.start()
    await asyncio.get_running_loop().run_in_executor(None, _wait_go, sender)
    got = [[] for _ in dsls]
    recv = [asyncio.create_task(_ws_receive(r, len(expect[d]), g))
            for (r, _w), d, g in zip(conns, dsls, got)]
    budget = log.txns[-1].sched_us / 1e6 + cfg["tail_timeout_s"]
    done, pending = await asyncio.wait(recv, timeout=budget)
    for t in pending:
        t.cancel()
    for t in done:
        t.result()
    for _r, w in conns:
        await _ws_close(w)
    if watch is not None:
        watch.stop.set()
        watch.join()
    sender.join()
    return {
        "t0": sender.t0,
        "late_ms": sender.late_ms,
        "marks": sender.marks,
        "frames": {d: [(t, oracle.change_id(b.decode())) for t, b in g]
                   for d, g in zip(dsls, got)},
        "first_seen": ({str(k): v for k, v in watch.first_seen.items()}
                       if watch else {}),
    }


def apply_observe(cfg: dict, log, sender: OpenLoop) -> dict:
    """Open-loop apply: record when each committed batch's snapshot
    becomes visible (the snapshot directory is swapped) and which LSN
    the batch ends at (the checkpoint's offset log)."""
    snap, ckpt = cfg["snapshot_dir"], cfg["checkpoint_dir"]
    commits = os.path.join(ckpt, "commits")
    last_lsn = log.txns[-1].lsn

    def ino() -> int | None:
        try:
            return os.stat(snap).st_ino
        except FileNotFoundError:  # between the two renames of a swap
            return None

    seen = {int(n) for n in os.listdir(commits) if n.isdigit()}
    cur_ino = ino()
    _wait_go(sender)
    deadline = (sender.t0 + log.txns[-1].sched_us * 1000
                + int(cfg["tail_timeout_s"] * 1e9))
    swaps: list[int] = []
    batches = []  # (batch id, end lsn, visible ns)
    end = 0
    while end < last_lsn and time.monotonic_ns() < deadline:
        now = time.monotonic_ns()
        i = ino()
        if i is not None and i != cur_ino:
            cur_ino = i
            swaps.append(now)
        for b in sorted(int(n) for n in os.listdir(commits)
                        if n.isdigit() and int(n) not in seen):
            seen.add(b)
            with open(os.path.join(ckpt, "offsets", str(b))) as f:
                end = json.loads(f.read().strip().splitlines()[-1])["lsn"]
            batches.append((b, end, swaps.pop(0) if swaps else now))
        time.sleep(0.005)
    sender.join()
    return {"t0": sender.t0, "late_ms": sender.late_ms,
            "marks": sender.marks, "batches": batches}


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    log = gen.make_log(cfg["seed"], cfg["n_txns"], cfg["shape"],
                       rate=cfg["rate"], n_keys=cfg.get("n_keys", 1_000_000))
    sender = OpenLoop(cfg["db"], log)
    if cfg["mode"] == "live":
        out = asyncio.run(live(cfg, log, sender))
    else:
        out = apply_observe(cfg, log, sender)
    if sender.error is not None:
        raise sender.error
    with open(cfg["result"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
