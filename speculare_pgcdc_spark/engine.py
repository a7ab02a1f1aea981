"""User-facing engine facade — the one-stop surface a user of the
reference service would switch to.

Maps the reference's three entry points (SURVEY §3) onto the engine:

- EP1 client subscription  -> :meth:`Engine.subscribe` (DSL string ->
  validated standing subscription; same error semantics as the
  reference's HTTP 400s, raised as :class:`dsl.DslError`)
- EP2 CDC ingestion        -> :meth:`Engine.watch` (change feed ->
  routed fan-out StreamingQuery with checkpointed offsets)
- EP3 change dispatch      -> the routed plan inside ``watch``; its
  batch twin is :meth:`Engine.route_batch` (oracle-testable)

plus the general analytics surface the routing layer is a special case
of: :meth:`table` / :meth:`sql` / :meth:`query`.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from speculare_pgcdc_spark.catalog import TABLES, register_views, table
from speculare_pgcdc_spark.cdc.pipeline import (
    normalize_hypertables,
    parse_wal2json,
    route,
    subscriptions_df,
)
from speculare_pgcdc_spark.dsl import WatchFor, parse_ws_query
from speculare_pgcdc_spark.queries import load_all
from speculare_pgcdc_spark.session import get_spark
from speculare_pgcdc_spark.streaming.fanout import (
    idempotent_outbox_deliver,
    outbox_deliver,
    start_fanout_query,
)
from speculare_pgcdc_spark.streaming.source import file_change_feed


class Engine:
    """A SparkSession + fixture catalog + subscription registry.

    >>> eng = Engine(sf_dir="/root/testdata/sf0.01")
    >>> eng.sql("SELECT COUNT(*) n FROM lineitem").show()
    >>> eng.subscribe(1, "insert,update:events_a:event_type.eq.click")
    >>> q = eng.watch(feed_dir, out_dir, ckpt_dir)   # streaming fan-out
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        sf_dir: str = "/root/testdata/sf0.01",
        tables: Optional[list[str]] = None,
    ) -> None:
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        #: catalog the subscriptions validate against (detect_tables
        #: analog — reference loads it once at startup, cdc/mod.rs:30-47)
        self.tables = list(tables) if tables is not None else list(TABLES)
        self._subs: dict[int, str] = {}  # sub_id -> DSL
        #: bumped by every registry change; subscriptions() rebuilds
        #: its frame when the version it was built at is stale
        self._subs_version = 0
        self._subs_frame: Optional[tuple[int, DataFrame]] = None
        self._views_registered = False

    # -- batch analytics surface -------------------------------------

    def table(self, name: str) -> DataFrame:
        return table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    def query(self, name: str) -> DataFrame:
        """Run a registered operator query (SURVEY §2B/§2D) by name."""
        return load_all()[name].fn(self.spark, self.sf_dir)

    # -- subscription registry (EP1, R17 analog) ----------------------

    def subscribe(
        self,
        sub_id: int,
        dsl_query: str,
        auth=None,
        authorizer=None,
    ) -> WatchFor:
        """Validate + register a standing subscription. Raises DslError
        exactly where the reference returns HTTP 400 (query.rs:27-49);
        when ``auth`` (cdc.auth.AuthInfo) and ``authorizer``
        (cdc.auth.SubscriptionAuthorizer) are supplied, applies the
        reference's restrict_auth gate (403 analog) before
        registering.

        A subscription registered (or removed) while a watch()/
        watch_db() query is running takes effect on that query's NEXT
        microbatch — the query reads this registry at the top of every
        batch and recompiles its routing only when it has changed (the
        reference's live-forwarder semantics: new WebSocket
        subscriptions apply immediately, api/ws_handler.rs:79-143;
        pinned in tests/test_streaming.py::
        test_subscription_applies_mid_stream)."""
        watch = parse_ws_query(dsl_query, self.tables)
        if auth is not None:
            if authorizer is None:
                raise ValueError("auth requires an authorizer")
            authorizer.restrict(auth, watch)
        self._subs[sub_id] = dsl_query
        self._subs_version += 1
        return watch

    def unsubscribe(self, sub_id: int) -> None:
        if self._subs.pop(sub_id, None) is not None:
            self._subs_version += 1

    def subscriptions(self) -> DataFrame:
        """The registry as the subscriptions frame route() inlines into
        the routing plan (ServerState analog, ws_utils.rs:23-29).

        Returns the SAME frame object until subscribe()/unsubscribe()
        changes the registry, so a running watch() compiles its router
        once per registry change (streaming.fanout.start_fanout_query
        keys on frame identity). Those calls may come from another
        thread (WsSidecar.for_engine runs on its asyncio loop): each
        writes the registry before bumping the version, and this reads
        the version before the registry, so a frame built across a
        concurrent change is tagged with the older version and rebuilt
        on the next call, never served stale."""
        version = self._subs_version
        cached = self._subs_frame
        if cached is None or cached[0] != version:
            frame = subscriptions_df(
                self.spark, list(self._subs.items()), self.tables
            )
            cached = self._subs_frame = (version, frame)
        return cached[1]

    # -- CDC dispatch (EP2 + EP3) --------------------------------------

    def _changes(
        self,
        payloads: DataFrame,
        lookup: Optional[DataFrame],
        seq_col: Optional[str] = None,
    ):
        changes = parse_wal2json(payloads, seq_col=seq_col)
        if lookup is not None:
            changes = normalize_hypertables(changes, lookup)
        else:
            changes = changes.withColumnRenamed("table", "table_name")
        if changes.isStreaming:
            # forwarder-loop observability: every watch query reports
            # per-microbatch change volume / kind mix / WAL bounds in
            # its progress (streaming/metrics.py) — the aggregates
            # ride the batch's execution, no extra pass over the feed
            from speculare_pgcdc_spark.streaming.metrics import (
                observe_changes,
            )

            changes = observe_changes(changes)
        return changes

    def route_batch(
        self,
        payloads: DataFrame,
        lookup: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Batch twin of the dispatch path: one row per (subscriber,
        matching change). Oracle-checked via q35/q36."""
        return route(self._changes(payloads, lookup), self.subscriptions())

    def _fanout(
        self,
        changes: DataFrame,
        out_dir: str,
        checkpoint_dir: str,
        deliver: Optional[Callable],
        exactly_once: bool,
        available_now: bool,
    ):
        """The one sink wiring behind watch()/watch_db(): the caller's
        adapter, else the idempotent (exactly_once) or append outbox
        under ``out_dir``, fed by the live registry."""
        if deliver is None:
            deliver = (
                idempotent_outbox_deliver(out_dir)
                if exactly_once
                else outbox_deliver(out_dir)
            )
        return start_fanout_query(
            changes,
            self.subscriptions,
            deliver,
            checkpoint_dir,
            available_now=available_now,
        )

    def watch(
        self,
        feed_dir: str,
        out_dir: str,
        checkpoint_dir: str,
        lookup: Optional[DataFrame] = None,
        deliver: Optional[Callable] = None,
        max_files_per_trigger: int = 1,
        exactly_once: bool = False,
        available_now: bool = False,
    ):
        """Start the streaming fan-out (EP2->EP3): change feed ->
        parse -> normalize -> route -> per-subscriber delivery, with
        at-least-once offsets in ``checkpoint_dir`` (LSN-ack analog).
        ``deliver`` is a ``(sub_id, payloads, batch_id)`` adapter;
        without one, changes land in the file outbox under ``out_dir``
        (idempotent per batch with ``exactly_once``). Each microbatch
        picks its delivery path by size (streaming.fanout.fanout_auto).

        Subscription semantics are LIVE: the registry is read at the
        top of every microbatch (its routing recompiled only when it
        changed), so subscribe()/unsubscribe() while the query runs
        applies on the next batch — matching the reference's
        immediate WebSocket-subscription application
        (api/ws_handler.rs:79-143; pinned in tests/test_streaming.py::
        test_subscription_applies_mid_stream).

        The file feed carries no WAL position, so per-subscriber
        payload order is per-message only (chg_idx); watch_db's lsn
        gives full per-batch WAL order."""
        stream = self._changes(
            file_change_feed(self.spark, feed_dir, max_files_per_trigger),
            lookup,
        )
        return self._fanout(
            stream, out_dir, checkpoint_dir, deliver, exactly_once,
            available_now,
        )

    def watch_db(
        self,
        db_path: str,
        out_dir: str,
        checkpoint_dir: str,
        lookup: Optional[DataFrame] = None,
        deliver: Optional[Callable] = None,
        exactly_once: bool = False,
        available_now: bool = False,
    ):
        """Like :meth:`watch`, but the feed is a database polled with a
        monotonic LSN cursor (streaming.wal_source — the R1-R7
        replication-connection analog with acked offsets). ``db_path``
        is either a SQLite file (the harness backend) or a
        ``jdbc:postgresql://`` URL (the production backend — same
        cursor/ack protocol over psycopg). The lsn is carried through
        parse as the ``seq`` order key, so each subscriber's outbox is
        in WAL order within every microbatch (the reference's
        ordered-channel contract, forwarder/mod.rs:44). Subscription
        changes apply live per microbatch, as in :meth:`watch`.

        A drain (``available_now=True``) is ONE microbatch holding the
        whole committed backlog: Spark's AvailableNow wrapper fixes its
        target from a single ``latestOffset()`` call on this Python
        source, so a per-poll row bound would end the drain early. A
        continuous query polls at most 10,000 LSNs per microbatch."""
        from speculare_pgcdc_spark.streaming import wal_source

        wal_source.register(self.spark)
        opt = "url" if db_path.startswith("jdbc:") else "path"
        reader = self.spark.readStream.format("wal_poll").option(opt, db_path)
        if available_now:
            # int4 max: fits the slot backend's upto_nchanges and LIMIT
            reader = reader.option("batchlimit", 2**31 - 1)
        src = reader.load().select("lsn", "payload")
        return self._fanout(
            self._changes(src, lookup, seq_col="lsn"),
            out_dir, checkpoint_dir, deliver, exactly_once, available_now,
        )

    def watch_snapshot(
        self,
        feed_dir: str,
        snapshot_dir: str,
        checkpoint_dir: str,
        key_col: str,
        columns: dict,
        lookup: Optional[DataFrame] = None,
        tables: Optional[list] = None,
        max_files_per_trigger: int = 1,
        available_now: bool = False,
    ):
        """Maintain a queryable parquet snapshot from the change feed
        (cdc/apply.start_matview_query without a view, behind the
        facade) — the reference-consumer shape one step past fan-out:
        every real deployment's next stop after receiving changes is
        applying them somewhere queryable.

        The file feed carries no WAL position (every message parses
        at seq 0), so the snapshot keeps exactly one row per key, but
        when two messages in one microbatch change the same key, which
        one wins is unspecified (cdc/apply.latest_changes)."""
        from speculare_pgcdc_spark.cdc.apply import start_matview_query

        src = file_change_feed(
            self.spark, feed_dir,
            max_files_per_trigger=max_files_per_trigger,
        )
        return start_matview_query(
            self._changes(src, lookup), snapshot_dir, None, checkpoint_dir,
            key_col, columns, None, None, tables=tables,
            query_name="cdc-apply", available_now=available_now,
        )

    def watch_matview(
        self,
        feed_dir: str,
        snapshot_dir: str,
        matview_dir: str,
        checkpoint_dir: str,
        key_col: str,
        columns: dict,
        group_col: str,
        agg_cols_fn: Callable,
        lookup: Optional[DataFrame] = None,
        tables: Optional[list] = None,
        max_files_per_trigger: int = 1,
        available_now: bool = False,
    ):
        """Maintain snapshot + incrementally-refreshed aggregate view
        from the change feed (cdc/apply.start_matview_query behind the
        facade — the q97 IVM consumer as a one-call streaming query).
        Same per-key contract as :meth:`watch_snapshot`: one row per
        key, the winner among same-batch messages on one key
        unspecified (the file feed has no WAL position)."""
        from speculare_pgcdc_spark.cdc.apply import start_matview_query

        src = file_change_feed(
            self.spark, feed_dir,
            max_files_per_trigger=max_files_per_trigger,
        )
        return start_matview_query(
            self._changes(src, lookup), snapshot_dir, matview_dir,
            checkpoint_dir, key_col, columns, group_col, agg_cols_fn,
            tables=tables, available_now=available_now,
        )
