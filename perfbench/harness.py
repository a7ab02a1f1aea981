"""Driver-side plumbing shared by the workloads: the Spark session, the
repeated set-up, the load process, the WebSocket sidecar thread, Spark's
per-trigger progress, and the batch-side layer probes of traced runs."""

from __future__ import annotations

import asyncio
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from datetime import datetime

from perfbench import gen, oracle
from perfbench.measure import RssSampler, Spans, mean, median

HERE = os.path.dirname(os.path.abspath(__file__))
#: set-ups per run; the reported set-up time is their median
SETUPS = 3
#: Spark's order of the phases inside one trigger
PHASES = [
    ("latestOffset", "wal_source"),
    ("walCommit", "trigger.wal_commit"),
    ("getBatch", "wal_source"),
    ("queryPlanning", "trigger.planning"),
    ("addBatch", "sink"),
    ("commitOffsets", "trigger.commit_offsets"),
]


def wall_of_mono(ns: int) -> float:
    """Convert a ``time.monotonic_ns`` reading to wall-clock seconds."""
    return (ns + time.time_ns() - time.monotonic_ns()) / 1e9


class TimedDeliver:
    """Delivery adapter for traced runs: the engine's default append
    outbox, with each call's wall-clock span appended to a per-process
    file (picklable, so it also works where fan-out runs on executors)."""

    def __init__(self, out_dir: str, span_dir: str) -> None:
        self.out_dir = out_dir
        self.span_dir = span_dir

    def __call__(self, sub_id, payloads, batch_id=-1) -> None:
        from speculare_pgcdc_spark.streaming.fanout import outbox_deliver

        t0 = time.time()
        outbox_deliver(self.out_dir)(sub_id, payloads, batch_id)
        t1 = time.time()
        rec = {"batch": batch_id, "n": len(payloads), "start": t0,
               "end": t1}
        with open(os.path.join(self.span_dir, f"{os.getpid()}.jsonl"),
                  "a") as f:
            f.write(json.dumps(rec) + "\n")


def read_deliver_spans(span_dir: str) -> list[dict]:
    out = []
    for n in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, n)) as f:
            out.extend(json.loads(ln) for ln in f if ln.strip())
    return out


class Sidecar:
    """A WsSidecar on its own asyncio loop thread inside the driver, so
    it shares the Engine's live subscription registry."""

    def __init__(self, engine, out_dir: str) -> None:
        from speculare_pgcdc_spark.service.ws_sidecar import WsSidecar

        self.loop = asyncio.new_event_loop()
        self.thread = threading.Thread(target=self.loop.run_forever,
                                       daemon=True)
        self.thread.start()
        self.sidecar = WsSidecar.for_engine(engine, out_dir)
        self.port = self._call(self.sidecar.start())

    def _call(self, coro):
        return asyncio.run_coroutine_threadsafe(coro, self.loop).result(30)

    def close(self) -> None:
        self._call(self.sidecar.stop())
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(30)
        self.loop.close()


class Load:
    """The load process (perfbench/load.py), driven over stdin/stdout."""

    def __init__(self, run: "Run", name: str, cfg: dict) -> None:
        self.result_path = run.path(f"load-{name}.json")
        cfg_path = run.path(f"load-{name}.cfg.json")
        with open(cfg_path, "w") as f:
            json.dump({**cfg, "result": self.result_path}, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "load.py"), cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        run.rss.exclude.add(self.proc.pid)

    def wait_ready(self) -> None:
        line = self.proc.stdout.readline()
        if line.strip() != "ready":
            self.stop()
            raise RuntimeError(f"load process failed to start: {line!r}")

    def go(self) -> None:
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()

    def stop(self) -> None:
        """Kill the load process if it is still running, and reap it."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()

    def result(self, timeout: float) -> dict:
        try:
            rc = self.proc.wait(timeout)
        finally:
            self.stop()
        if rc != 0:
            raise RuntimeError(f"load process exited with {rc}")
        with open(self.result_path) as f:
            return json.load(f)


def _ts(progress) -> float:
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _end_lsn(progress) -> int:
    # the offset arrives as the source's rendering of {"lsn": N}
    return int(re.search(r"lsn\D*(\d+)",
                         str(progress["sources"][0]["endOffset"])).group(1))


def batches_of(query) -> list[dict]:
    """The data-carrying triggers of a query, as plain dicts."""
    out = []
    for p in query.recentProgress:
        if p["numInputRows"] > 0:
            out.append({"id": p["batchId"], "start": _ts(p),
                        "rows": p["numInputRows"], "end_lsn": _end_lsn(p),
                        "ms": dict(p["durationMs"])})
    return out


class Run:
    """One benchmark run: seed, length, trace flag, and what it measured."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 run_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.spans = Spans(f"{workload}-{seed}-{int(time.time())}")
        self.run_span = self.spans.add("run", "run", time.time(), 0.0)
        self.layer: dict[str, float] = {}   # per-layer metrics
        self.detail: dict = {}              # workload-specific extras
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.rss = RssSampler()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def check(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{what}: {failed}/{attempted}")

    def start_session(self) -> None:
        from speculare_pgcdc_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        self.spans.add("session.start", "session", t0, t1, self.run_span)
        self.layer["session.start_s"] = t1 - t0

    def lookup(self):
        return self.spark.createDataFrame(gen.HYPER_LOOKUP,
                                          "idx int, table_name string")

    def fresh_wal(self, name: str) -> str:
        from speculare_pgcdc_spark.streaming import wal_source

        db = self.path(f"{name}.db")
        wal_source.ensure_wal_tables(db)
        return db

    def setups(self, start):
        """Start a query ``SETUPS`` times (``start(i)`` returns a handle
        whose ``.query`` is the StreamingQuery); each set-up ends when
        the first (empty) trigger has committed.  Records the median
        set-up time and returns the last handle, still running."""
        times, handle = [], None
        for i in range(SETUPS):
            if handle is not None:
                handle.query.stop()
            t0 = time.time()
            handle = start(i)
            q = handle.query
            while q.lastProgress is None:
                if q.exception() is not None:
                    raise RuntimeError(f"query failed: {q.exception()}")
                time.sleep(0.01)
            t1 = time.time()
            times.append(t1 - t0)
            self.spans.add(f"setup.{i}", "engine.query_start", t0, t1,
                           self.run_span)
        self.layer["engine.query_start_s"] = median(times)
        self.detail["setup_samples_s"] = times
        return handle

    # -- per-trigger layers, from Spark's progress ---------------------

    def trigger_layers(self, batches: list[dict], marks) -> None:
        """Mean phase times over data triggers, plus batch/phase spans.
        ``marks`` (commit ns, newest lsn) from the load gives the source
        lag: messages appended but not yet taken when a trigger commits."""
        if not batches:
            raise RuntimeError("no data trigger ran")
        ms = lambda k: mean([b["ms"].get(k, 0) for b in batches])  # noqa
        self.layer.update({
            "wal_source.poll_ms": ms("latestOffset"),
            "wal_source.rows_per_batch": mean([b["rows"] for b in batches]),
            "trigger.planning_ms": ms("queryPlanning"),
            "trigger.wal_commit_ms": ms("walCommit"),
            "trigger.commit_offsets_ms": ms("commitOffsets"),
            "trigger.exec_ms": ms("triggerExecution"),
            "trigger.batches": len(batches),
            "sink.add_batch_ms": ms("addBatch"),
        })
        walls = [(wall_of_mono(ns), lsn) for ns, lsn in marks]
        lags = []
        for b in batches:
            done = b["start"] + b["ms"]["triggerExecution"] / 1e3
            newest = max((lsn for w, lsn in walls if w <= done),
                         default=b["end_lsn"])
            lags.append(max(0, newest - b["end_lsn"]) / gen.LSN_STRIDE)
        self.layer["wal_source.lag_msgs"] = mean(lags)
        for b in batches:
            start = b["start"]
            bid = self.spans.add(f"batch.{b['id']}", "trigger", start,
                                 start + b["ms"]["triggerExecution"] / 1e3,
                                 self.run_span, batch=b["id"])
            for key, layer in PHASES:
                dur = b["ms"].get(key, 0) / 1e3
                sid = self.spans.add(key, layer, start, start + dur, bid,
                                     batch=b["id"])
                if key == "addBatch":
                    b["add_span"] = sid
                start += dur

    def deliver_spans(self, batches: list[dict], recs: list[dict]) -> None:
        by_batch = {b["id"]: b for b in batches}
        for r in recs:
            b = by_batch.get(r["batch"])
            self.spans.add("deliver", "fanout.deliver", r["start"], r["end"],
                           b["add_span"] if b else self.run_span,
                           batch=r["batch"], n=r["n"])

    # -- batch-side probes on the run's own log (traced runs) ----------

    def timed_median(self, name: str, layer: str, fn, reps: int = 3):
        times = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            t1 = time.time()
            times.append(t1 - t0)
            self.spans.add(name, layer, t0, t1, self.run_span)
        return median(times)

    def probe_layers(self, log, base_dir: str = None) -> None:
        """The batch-side layers on the run's own log: pipeline, route,
        dsl, executor fan-out, latest-per-key and (with a base snapshot)
        merge, the poison count, which must equal the generated poison
        exactly, and the tier-1 queries on seeded tables."""
        payloads = self.spark.createDataFrame(
            log.rows(), "lsn bigint, payload string").persist()
        payloads.count()
        self.probe_pipeline(payloads)
        self.probe_fanout(payloads, log)
        base = self.spark.read.parquet(base_dir) if base_dir else None
        self.probe_apply(payloads, base)
        dropped = self.poison_count(payloads)
        self.layer["pipeline.poison_dropped"] = dropped
        self.check("poison counted", 1, int(dropped != log.poison))
        payloads.unpersist()
        self.probe_queries()

    def poison_count(self, payloads) -> int:
        """Poison the pipeline drops, counted from outside: unparseable
        frames plus changes that parse but do not survive validation."""
        from pyspark.sql import functions as F
        from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json

        v = payloads.select(F.try_parse_json("payload").alias("m"))
        row = v.select(
            F.sum(F.col("m").isNull().cast("long")).alias("bad"),
            F.sum(F.coalesce(F.size(F.expr(
                "variant_get(m, '$.change', 'array<variant>')")), F.lit(0)
            )).alias("raw"),
        ).first()
        out = parse_wal2json(payloads, seq_col="lsn").count()
        return int(row["bad"]) + int(row["raw"]) - out

    def changes(self, payloads):
        from speculare_pgcdc_spark.cdc.pipeline import (
            normalize_hypertables, parse_wal2json,
        )

        return normalize_hypertables(
            parse_wal2json(payloads, seq_col="lsn"), self.lookup())

    def subscriptions(self):
        """``gen.LIVE_SUBS`` as the engine's subscription frame, ids 1.."""
        from speculare_pgcdc_spark.cdc.pipeline import subscriptions_df

        return subscriptions_df(self.spark, list(enumerate(gen.LIVE_SUBS, 1)),
                                gen.CATALOG)

    def probe_pipeline(self, payloads) -> None:
        """pipeline/route/dsl layers, timed batch-side (noop sink)."""
        from speculare_pgcdc_spark.cdc.pipeline import route

        changes = lambda: self.changes(payloads)  # noqa: E731
        parse_s = self.timed_median("parse", "pipeline.parse",
                                    lambda: _noop(changes()))
        both_s = self.timed_median(
            "parse+route", "route",
            lambda: _noop(route(changes(), self.subscriptions())))
        n_changes = changes().count()
        n_routed = route(changes(), self.subscriptions()).count()
        self.layer.update({
            "pipeline.parse_s": parse_s,
            "pipeline.changes": n_changes,
            "route.s": max(0.0, both_s - parse_s),
            "route.rows": n_routed,
            "route.fanout_factor": n_routed / max(1, n_changes),
            "dsl.compile_ms": 1e3 * self.timed_median(
                "subscriptions_df", "dsl", self.subscriptions, reps=5),
        })

    def probe_fanout(self, payloads, log) -> None:
        """The executor-side fan-out path (``fanout_partitions``, which
        the auto mode takes above ``AUTO_DRIVER_MAX_ROWS`` routed rows)
        over the whole log as one batch, into an idempotent outbox that
        the oracle then checks per subscriber."""
        from speculare_pgcdc_spark.cdc.pipeline import route
        from speculare_pgcdc_spark.streaming.fanout import (
            fanout_partitions, idempotent_outbox_deliver, read_outbox,
        )

        out = self.path("partitions_out")
        routed = route(self.changes(payloads), self.subscriptions()).persist()
        routed.count()
        self.layer["fanout.partitions_s"] = self.timed_median(
            "fanout_partitions", "fanout.partitions",
            lambda: fanout_partitions(routed, idempotent_outbox_deliver(out)))
        routed.unpersist()
        expected = oracle.expected_deliveries(log, gen.LIVE_SUBS)
        for sid, dsl in enumerate(gen.LIVE_SUBS, 1):
            got = [oracle.change_id(ln) for ln in read_outbox(out, sid)]
            self.check(f"fanout_partitions {dsl}", len(expected[dsl]),
                       oracle.delivery_errors(expected[dsl], got))

    def probe_apply(self, payloads, base) -> None:
        """latest-per-key (every workload) and merge (with a base)."""
        from speculare_pgcdc_spark.cdc.apply import (
            apply_latest, latest_changes,
        )

        changes = self.changes(payloads)
        latest = lambda: latest_changes(changes, "id", "bigint",  # noqa
                                        [gen.APPLY_TABLE])
        self.layer["apply.latest_s"] = self.timed_median(
            "latest_changes", "apply.latest", lambda: _noop(latest()))
        if base is not None:
            self.detail["apply.merge_s"] = self.timed_median(
                "apply_latest", "apply.merge",
                lambda: _noop(apply_latest(base, latest(), "id",
                                           gen.APPLY_COLUMNS)))

    def probe_queries(self) -> None:
        """Each of ``gen.QUERIES`` on seeded tables: one checked run
        against its registry DuckDB oracle, then the median of three
        runs into the noop sink; ``query.suite_s`` is their sum."""
        import duckdb
        from speculare_pgcdc_spark.queries import load_all

        tables = self.path("tables")
        gen.write_tables(self.seed, tables)
        specs = load_all()
        con = duckdb.connect()
        for n in os.listdir(tables):
            con.execute(f"CREATE VIEW {n.removesuffix('.parquet')} AS "
                        f"SELECT * FROM read_parquet('{tables}/{n}')")
        suite = 0.0
        for name in gen.QUERIES:
            spec = specs[name]
            df = spec.fn(self.spark, tables)
            want = con.execute(spec.oracle)
            want_cols = [d[0] for d in want.description]
            want_rows = want.fetchall()
            self.check(f"query {name}", len(want_rows), oracle.result_errors(
                df.columns, df.collect(), want_cols, want_rows))
            t = self.timed_median(
                name, "query", lambda: _noop(spec.fn(self.spark, tables)))
            self.layer[f"query.{name}_s"] = t
            suite += t
        con.close()
        self.layer["query.suite_s"] = suite


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    spawned) to exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(60)


def duckdb_anchor() -> float:
    """Fixed DuckDB probe (median of 3): box drift, not engine speed."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute("SELECT sum(hash(i) % 1000) FROM range(5000000) t(i)"
                    ).fetchall()
        times.append(time.perf_counter() - t0)
    con.close()
    return median(times)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
