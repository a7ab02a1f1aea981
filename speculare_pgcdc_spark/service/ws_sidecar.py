"""WebSocket serving sidecar — the reference's front door
(src/api/server.rs:18-66 + src/api/ws_handler.rs:28-143) realized as a
stdlib asyncio server over the engine's outbox contract.

Division of labor (BASELINE.json / SURVEY R21): Spark computes the
routed per-subscriber change feed and writes each subscriber's outbox
(streaming/fanout.py); THIS process owns the client connections. The
two meet at the filesystem: the sidecar registers the subscription in
the Engine's live registry (applied on the watch query's next
microbatch — api/ws_handler.rs live-forwarder semantics) and tails the
subscriber's outbox (fanout.OutboxTailer), pushing each payload line as
one text frame — the reference's exact per-client dataflow (forwarder
-> mpsc channel -> websocket sink), with the outbox as the durable
channel.

Protocol behavior mirrored from the reference:

- ``GET <path>?query=<dsl>`` upgrade; a missing/invalid query — or a
  missing Sec-WebSocket-Key — returns HTTP 400 BEFORE the upgrade
  (ws_handler.rs:35-46 ExplicitError) with the DSL error text.
- ``/ping`` answers 200 "zpour" to any method (server.rs:27) — the
  health route a load balancer probes.
- each accepted client gets a fresh id from the sidecar's counter
  (ID_COUNTER analog), skipping ids already registered out-of-band via
  Engine.subscribe so a WS connect can never overwrite them.
- client disconnect (close frame / EOF) unsubscribes it
  (ws_handler.rs ws_disconnected analog); with the live registry the
  next microbatch's routing no longer matches it.
- TLS (the reference's rustls path, server.rs:45-58): pass an
  ``ssl.SSLContext`` to :meth:`WsSidecar.start` / cert+key paths to
  :func:`run_sidecar_forever` for ``wss://``.

The WebSocket layer itself is RFC 6455 with no dependencies: HTTP/1.1
upgrade handshake (SHA-1 accept key), unmasked server->client text
frames, masked client->server frames (only close/ping are expected and
handled; an unmasked client frame fails the connection with close 1002
per §5.1, and a frame declaring more than MAX_CLIENT_FRAME bytes is
refused with 1009 before any buffering). Production deployments would
terminate WS at any off-the-shelf gateway instead; this sidecar exists
so the full reference surface — connect, subscribe via DSL, receive
routed changes live — is runnable and tested end-to-end from this repo
alone.
"""

from __future__ import annotations

import asyncio
import base64
import hashlib
import itertools
import ssl as _ssl
from typing import Callable, Optional
from urllib.parse import parse_qs, urlsplit

from speculare_pgcdc_spark.streaming.fanout import OutboxTailer

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

#: client frames are control-plane only (close/ping/pong); anything
#: declaring more than this many payload bytes is a protocol abuse —
#: refuse before readexactly starts buffering toward a 2^63 header
MAX_CLIENT_FRAME = 64 * 1024


class WsProtocolError(Exception):
    """Client violated RFC 6455; ``code`` is the close status to send
    (1002 protocol error, 1009 message too big)."""

    def __init__(self, code: int, msg: str) -> None:
        super().__init__(msg)
        self.code = code


def accept_key(sec_websocket_key: str) -> str:
    """RFC 6455 §4.2.2 Sec-WebSocket-Accept."""
    digest = hashlib.sha1(
        (sec_websocket_key.strip() + _WS_GUID).encode()
    ).digest()
    return base64.b64encode(digest).decode()


def encode_text_frame(payload: str) -> bytes:
    """One FIN text frame, server->client (never masked)."""
    data = payload.encode("utf-8")
    n = len(data)
    if n < 126:
        head = bytes([0x81, n])
    elif n < (1 << 16):
        head = bytes([0x81, 126]) + n.to_bytes(2, "big")
    else:
        head = bytes([0x81, 127]) + n.to_bytes(8, "big")
    return head + data


def encode_close_frame(code: int = 1000) -> bytes:
    return bytes([0x88, 2]) + code.to_bytes(2, "big")


async def read_frame(
    reader: asyncio.StreamReader,
    require_mask: bool = False,
    max_len: int = 0,
):
    """Decode one frame -> (opcode, payload bytes); raises on EOF.

    With ``require_mask`` (the server side of a client connection),
    an unmasked frame raises :class:`WsProtocolError` 1002 — RFC 6455
    §5.1 says the server MUST fail the connection, not silently decode
    with a zero mask. ``max_len`` > 0 bounds the DECLARED length before
    any payload is read, raising 1009 — otherwise one local client
    could declare 2^63 bytes and balloon driver memory while
    readexactly buffers toward it."""
    b1, b2 = await reader.readexactly(2)
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    length = b2 & 0x7F
    if length == 126:
        length = int.from_bytes(await reader.readexactly(2), "big")
    elif length == 127:
        length = int.from_bytes(await reader.readexactly(8), "big")
    if require_mask and not masked:
        raise WsProtocolError(1002, "client frame not masked")
    if opcode >= 0x8 and length > 125:
        # RFC 6455 §5.5: control frames carry at most 125 payload
        # bytes. Enforcing it here also keeps the single-byte pong
        # length encoding valid — a 200-byte ping echoed as
        # bytes([0x8A, 200]) would set the MASK bit (0xC8) and desync
        # the client's framing
        raise WsProtocolError(
            1002, f"control frame of {length} bytes refused"
        )
    if max_len and length > max_len:
        raise WsProtocolError(1009, f"frame of {length} bytes refused")
    mask = await reader.readexactly(4) if masked else b"\x00" * 4
    data = await reader.readexactly(length)
    if masked:
        data = bytes(c ^ mask[i % 4] for i, c in enumerate(data))
    return opcode, data


class WsSidecar:
    """Serve WebSocket subscriptions over a live registry + outbox dir.

    subscribe(sub_id, dsl) must raise ValueError-family (DslError) on a
    bad query — mapped to HTTP 400 exactly like the reference's
    ExplicitError; unsubscribe(sub_id) is called on disconnect.
    Each client's outbox under ``out_dir`` is read by a
    fanout.OutboxTailer, which pushes only the lines appended since its
    last poll, every ``poll_interval`` seconds.
    """

    def __init__(
        self,
        out_dir: str,
        subscribe: Callable[[int, str], object],
        unsubscribe: Callable[[int], None],
        poll_interval: float = 0.05,
        path: str = "/ws",
        auth_from_headers: Optional[Callable[[dict], object]] = None,
        id_taken: Optional[Callable[[int], bool]] = None,
    ) -> None:
        self.out_dir = out_dir
        self.subscribe = subscribe
        self.unsubscribe = unsubscribe
        self.poll_interval = poll_interval
        self.path = path
        #: ID_COUNTER analog — per sidecar, and ``id_taken`` lets the
        #: allocator skip ids registered directly via Engine.subscribe
        #: (the public EP1 API): without the check a WS connect could
        #: silently overwrite such a registry entry and then delete it
        #: on disconnect. The reference avoids this only because its
        #: ID_COUNTER is the sole id source (main.rs:52).
        self._ids = itertools.count(1)
        self._id_taken = id_taken or (lambda _i: False)
        #: optional auth gate (the reference's cookie->AuthInfo extract,
        #: auth.rs:100-123): maps request headers -> an auth object the
        #: subscribe callable understands, raising cdc.auth.AuthError to
        #: refuse the connection with 403 (restrict_auth analog). None
        #: = auth feature off (the reference's non-auth build).
        self.auth_from_headers = auth_from_headers
        self._server: asyncio.AbstractServer | None = None

    @classmethod
    def for_engine(
        cls, engine, out_dir: str, authorizer=None, **kw
    ) -> "WsSidecar":
        """Wire straight onto an Engine's live registry: subscriptions
        registered here apply to a running watch() on its next
        microbatch, and a disconnect stops routing the same way.
        Pass ``authorizer`` (cdc.auth.SubscriptionAuthorizer) together
        with ``auth_from_headers`` to enable the restrict_auth gate."""

        def subscribe(sub_id, dsl, auth=None):
            return engine.subscribe(
                sub_id, dsl, auth=auth, authorizer=authorizer
            )

        return cls(
            out_dir,
            subscribe=subscribe,
            unsubscribe=engine.unsubscribe,
            id_taken=lambda i: i in engine._subs,
            **kw,
        )

    def _next_id(self) -> int:
        while True:
            i = next(self._ids)
            if not self._id_taken(i):
                return i

    async def start(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        ssl_context: Optional[_ssl.SSLContext] = None,
    ) -> int:
        """Bind and serve; returns the bound port. Pass a server-side
        ``ssl.SSLContext`` for wss:// — the reference's rustls path
        (server.rs:45-58), where cert/key come from config."""
        self._server = await asyncio.start_server(
            self._handle, host, port, ssl=ssl_context
        )
        return self._server.sockets[0].getsockname()[1]

    async def stop(self) -> None:
        if self._server is not None:
            self._server.close()
            await self._server.wait_closed()
            self._server = None

    async def _handle(
        self,
        reader: asyncio.StreamReader,
        writer: asyncio.StreamWriter,
    ) -> None:
        sub_id: int | None = None
        try:
            request = await reader.readuntil(b"\r\n\r\n")
            head = request.decode("latin-1").split("\r\n")
            try:
                method, target, _ = head[0].split(" ", 2)
            except ValueError:
                await self._http_error(writer, 400, "malformed request")
                return
            headers = {}
            for line in head[1:]:
                if ":" in line:
                    k, v = line.split(":", 1)
                    headers[k.strip().lower()] = v.strip()
            url = urlsplit(target)
            if url.path == "/ping":
                # health route, any method (server.rs:27)
                await self._http_ok(writer, "zpour")
                return
            if method != "GET" or url.path != self.path:
                await self._http_error(writer, 404, "not found")
                return
            if "websocket" not in headers.get("upgrade", "").lower():
                await self._http_error(writer, 400, "expected upgrade")
                return
            key = headers.get("sec-websocket-key", "")
            if not key.strip():
                # computing the accept key over "" would complete a
                # handshake no conforming client sent — reject like the
                # other pre-upgrade validation paths
                await self._http_error(
                    writer, 400, "missing Sec-WebSocket-Key"
                )
                return
            qs = parse_qs(url.query)
            if "query" not in qs:
                # ws_handler.rs:36-41: missing query param -> 400
                await self._http_error(
                    writer, 400, "missing the query params"
                )
                return
            # parse_qs already percent-decodes; decoding AGAIN would
            # corrupt filter values containing literal %XX sequences
            # (the reference's axum Query extractor decodes once)
            dsl = qs["query"][0]
            sub_id = self._next_id()
            try:
                if self.auth_from_headers is not None:
                    from speculare_pgcdc_spark.cdc.auth import AuthError

                    try:
                        self.subscribe(
                            sub_id,
                            dsl,
                            auth=self.auth_from_headers(headers),
                        )
                    except AuthError as ex:
                        # the error carries its HTTP status: 403 for a
                        # restrict_auth denial (auth.rs:213-224), 401/
                        # 400 for missing/malformed credentials from
                        # the cookie extraction (auth.rs:75-116)
                        sub_id = None
                        await self._http_error(
                            writer, getattr(ex, "status", 403), str(ex)
                        )
                        return
                else:
                    self.subscribe(sub_id, dsl)
            except Exception as ex:  # DslError -> 400, like the 400s
                # the reference's query::parse_ws_query error path
                sub_id = None
                await self._http_error(writer, 400, str(ex))
                return
            writer.write(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\n"
                    "Connection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n"
                ).encode()
            )
            await writer.drain()
            await self._serve_client(reader, writer, sub_id)
        except (
            asyncio.IncompleteReadError,
            asyncio.LimitOverrunError,  # headers beyond the 64 KiB limit
            ConnectionResetError,
            BrokenPipeError,
        ):
            pass
        finally:
            if sub_id is not None:
                # ws_disconnected analog: the live registry drops the
                # client; routing stops on the next microbatch
                self.unsubscribe(sub_id)
            writer.close()

    async def _serve_client(self, reader, writer, sub_id: int) -> None:
        """Push new outbox lines as text frames until the client closes
        (close frame / EOF). One tailer + one reader task per client —
        the reference's per-client forward task + receive loop."""
        stop = asyncio.Event()
        fail_code: list[int] = []

        async def recv_loop():
            try:
                while True:
                    opcode, data = await read_frame(
                        reader,
                        require_mask=True,
                        max_len=MAX_CLIENT_FRAME,
                    )
                    if opcode == 0x8:  # close
                        break
                    if opcode == 0x9:  # ping -> pong
                        writer.write(bytes([0x8A, len(data)]) + data)
                        await writer.drain()
            except WsProtocolError as ex:
                # RFC 6455 §5.1 / §7.4.1: fail the connection with the
                # violation's close status instead of silently decoding
                fail_code.append(ex.code)
            except (asyncio.IncompleteReadError, ConnectionResetError):
                pass
            finally:
                stop.set()

        recv = asyncio.create_task(recv_loop())
        poll = OutboxTailer(self.out_dir, sub_id).poll
        try:
            while not stop.is_set():
                for line in poll():
                    writer.write(encode_text_frame(line))
                await writer.drain()
                try:
                    await asyncio.wait_for(
                        stop.wait(), timeout=self.poll_interval
                    )
                except asyncio.TimeoutError:
                    pass
            writer.write(
                encode_close_frame(fail_code[0] if fail_code else 1000)
            )
            await writer.drain()
        except (ConnectionResetError, BrokenPipeError):
            pass
        finally:
            recv.cancel()

    @staticmethod
    async def _http_ok(writer, msg: str) -> None:
        body = msg.encode()
        writer.write(
            (
                "HTTP/1.1 200 OK\r\n"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
        )
        await writer.drain()

    @staticmethod
    async def _http_error(writer, code: int, msg: str) -> None:
        body = msg.encode()
        status = {
            400: "Bad Request",
            403: "Forbidden",
            404: "Not Found",
        }.get(code, "Error")
        writer.write(
            (
                f"HTTP/1.1 {code} {status}\r\n"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
        )
        await writer.drain()


def server_ssl_context(certfile: str, keyfile: str) -> _ssl.SSLContext:
    """Server-side TLS context from PEM cert + key paths — the
    RustlsConfig::from_pem_file analog (server.rs:48-55)."""
    ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile, keyfile)
    return ctx


def run_sidecar_forever(
    engine,
    out_dir: str,
    host: str = "127.0.0.1",
    port: int = 8080,
    certfile: Optional[str] = None,
    keyfile: Optional[str] = None,
    watch_query=None,
    watch_poll_sec: float = 5.0,
) -> None:
    """Blocking entry point: serve an Engine's subscriptions over WS
    (the `create_server` + `axum::serve` analog, server.rs:18-66).
    With ``certfile``/``keyfile`` the server speaks TLS (wss://) —
    the CONFIG.https + key_cert/key_priv path (server.rs:45-58).

    ``watch_query`` ties the server's lifetime to the CDC stream (the
    reference's joined-task supervision, main.rs:73-86): when the
    StreamingQuery dies — exception or plain stop — the sidecar shuts
    down and this raises instead of silently serving a stale out_dir
    forever."""

    async def main():
        sidecar = WsSidecar.for_engine(engine, out_dir)
        ctx = (
            server_ssl_context(certfile, keyfile)
            if certfile and keyfile
            else None
        )
        bound = await sidecar.start(host, port, ssl_context=ctx)
        scheme = "wss" if ctx else "ws"
        print(
            f"ws sidecar listening on {scheme}://{host}:{bound}"
            f"{sidecar.path}"
        )
        if watch_query is None:
            await asyncio.Event().wait()
        try:
            while True:
                await asyncio.sleep(watch_poll_sec)
                exc = watch_query.exception()
                if exc is not None:
                    raise RuntimeError(
                        f"CDC watch stream failed: {exc}"
                    )
                if not watch_query.isActive:
                    raise RuntimeError(
                        "CDC watch stream stopped; shutting down "
                        "sidecar"
                    )
        finally:
            await sidecar.stop()

    asyncio.run(main())
