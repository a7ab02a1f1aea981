"""Measurement helpers: percentiles, process-tree RSS, in-memory spans."""

from __future__ import annotations

import math
import os
import threading

#: seconds between two samples of the process tree's RSS
RSS_INTERVAL_S = 0.25
#: candidate percentiles, highest first
_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100, 6)))


def percentile(sorted_vals: list, p: float) -> float:
    """Nearest-rank percentile of an already sorted list."""
    return sorted_vals[_rank(p, len(sorted_vals)) - 1]


def tail(values) -> tuple[float, float, int]:
    """(p, value, n): the highest percentile with at least ten samples
    beyond it, its value, and the sample count."""
    s = sorted(values)
    n = len(s)
    for p in _PCTS:
        if n - _rank(p, n) >= 10:
            return p, percentile(s, p), n
    raise ValueError(f"{n} samples: too few for any tail percentile")


def mean(values) -> float:
    if not values:
        raise ValueError("mean of no samples")
    return sum(values) / len(values)


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    """The process's peak resident set so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_mb(root: int, exclude: set) -> dict[str, float]:
    """Peak RSS so far (MB) of each living process in the tree under
    ``root``, minus ``exclude``, summed per command name (``java``,
    ``python``...).  Per-process high-water marks catch the spikes a
    sampler would miss between samples."""
    kids = _children()
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        name = "driver" if pid == root else _comm(pid)
        out[name] = out.get(name, 0.0) + _hwm_kb(pid) / 1024
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples the driver + JVM process tree every ``RSS_INTERVAL_S``
    and keeps the largest sum of per-process peaks; processes in
    :attr:`exclude` (the load process) are left out."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_mb(me, self.exclude)
            if sum(parts.values()) > self.peak_mb:
                self.peak_mb = sum(parts.values())
                self.peak_parts = parts
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Spans:
    """In-memory span store: (id, name, layer, start, end, parent).

    Times are seconds on one clock per run; :meth:`self_times` gives,
    per layer, the span durations minus the part covered by children."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "run": self.run_id, "name": name,
                           "layer": layer, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid

    def self_times(self, keep) -> dict[str, float]:
        """Layer -> summed self time (seconds) over the spans ``keep``
        accepts."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in filter(keep, self.spans):
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            dur = s["end"] - s["start"]
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, dur - covered)
        return out
