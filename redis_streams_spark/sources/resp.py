"""RESP wire protocol — a socket-level server and a pure-stdlib client.

Why this exists: the reference engine's identity is Redis-as-storage
(``/root/reference/redis_streams/common.py:20-41``,
``consumer.py:146-162``), and round-6's Redis backend proved the
StreamLog contract against :class:`FakeRedis` — but only in-process.
Spark executes readers and writers in separate Python worker
*processes*, which an in-process fake can never reach, so the claim
"the Spark DataSource runs on the Redis backend" needs an actual
socket.  This module provides both halves:

- :class:`RespServer` — a threaded TCP server speaking RESP2 (the real
  Redis wire protocol: command = array of bulk strings, replies =
  simple/error/integer/bulk/array).  It holds no storage of its own;
  every parsed command dispatches onto a :class:`FakeRedis` client, so
  per-command atomicity is the fake server's single lock — the same
  guarantee a real single-threaded Redis gives.  A real ``redis-cli``
  could talk to it.
- :class:`RespClient` — a minimal client with redis-py call signatures
  (``decode_responses=True`` behavior) for exactly the command subset
  :class:`~redis_streams_spark.sources.redis_log.RedisStreamLog`
  issues: string blobs and locks (SET/GET/DEL/EXISTS/PEXPIRE/EVAL),
  set registries (SADD/SREM/SMEMBERS) and the position-keyed stream
  (XADD/XLEN/XRANGE/XREVRANGE/XTRIM).  Pure stdlib (``socket``), so it imports inside Spark's
  executor workers where redis-py is absent; pointed at a *real* Redis
  server it works identically, because the bytes on the wire are real
  RESP.

``RespClient.pipeline()`` is genuine pipelining: queued commands are
encoded into one ``sendall`` and the replies drained in order — the
batched XADDs of ``RedisStreamLog.append_many`` and the GET + XREVRANGE
of its crash reconcile are one round trip on the wire, not just in the
fake.

Scope: RESP2 only (no RESP3 push/verbatim types), no pub/sub, no
AUTH/TLS — this is the storage data plane for tests and local runs, not
a Redis replacement.
"""

from __future__ import annotations

import socket
import threading
from urllib.parse import urlparse


class ResponseError(Exception):
    """Server-side error reply (the ``-ERR ...`` line)."""


# -- wire encoding -------------------------------------------------------

def encode_command(*args) -> bytes:
    """RESP array of bulk strings — how every client→server command is
    framed."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        data = a if isinstance(a, bytes) else str(a).encode()
        out.append(b"$%d\r\n%s\r\n" % (len(data), data))
    return b"".join(out)


def read_reply(f):
    """Parse one reply from a buffered binary stream; raises
    ResponseError for ``-`` replies and ConnectionError on EOF."""
    line = f.readline()
    if not line:
        raise ConnectionError("connection closed by peer")
    marker, rest = line[:1], line[1:-2]
    if marker == b"+":
        return rest.decode()
    if marker == b"-":
        raise ResponseError(rest.decode())
    if marker == b":":
        return int(rest)
    if marker == b"$":
        n = int(rest)
        if n == -1:
            return None
        data = f.read(n + 2)
        if len(data) != n + 2:
            raise ConnectionError("short bulk read")
        return data[:-2].decode()
    if marker == b"*":
        n = int(rest)
        if n == -1:
            return None
        return [read_reply(f) for _ in range(n)]
    # Not an error *reply* — the stream itself is desynced.  ConnectionError
    # (not ResponseError) so pipeline drains abort instead of reading garbage.
    raise ConnectionError(f"protocol error: unexpected reply marker {marker!r}")


def _read_command(f) -> list[str] | None:
    """Parse one inbound command array; None at clean EOF."""
    line = f.readline()
    if not line:
        return None
    if line[:1] != b"*":
        raise ResponseError(f"protocol error: expected array, got {line!r}")
    n = int(line[1:-2])
    parts: list[str] = []
    for _ in range(n):
        hdr = f.readline()
        if hdr[:1] != b"$":
            raise ResponseError(f"protocol error: expected bulk, got {hdr!r}")
        size = int(hdr[1:-2])
        data = f.read(size + 2)
        if len(data) != size + 2:
            # client died mid-frame: never execute a truncated argument
            # (review finding, round 7)
            raise ConnectionError("short bulk read in command frame")
        parts.append(data[:-2].decode())
    return parts


# -- server --------------------------------------------------------------

class RespServer:
    """Threaded RESP2 server over a FakeRedis store.

    ``store`` is any object with the FakeRedis method surface; commands
    are dispatched onto it 1:1, so atomicity and semantics are the
    store's.  ``port=0`` binds an ephemeral port (read ``.port`` /
    ``.url`` after ``start()``).
    """

    def __init__(self, store, host: str = "127.0.0.1", port: int = 0):
        self._store = store
        self._host = host
        self._port = port
        self._sock: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._stopping = threading.Event()

    # lifecycle ----------------------------------------------------------
    def start(self) -> "RespServer":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self._host, self._port))
        srv.listen(64)
        self._sock = srv
        self._port = srv.getsockname()[1]
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    @property
    def port(self) -> int:
        return self._port

    @property
    def url(self) -> str:
        return f"redis://{self._host}:{self._port}/0"

    def stop(self) -> None:
        self._stopping.set()
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass

    def __enter__(self) -> "RespServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def _accept_loop(self) -> None:
        assert self._sock is not None
        while not self._stopping.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return  # listener closed
            # per-connection threads are daemons and NOT retained:
            # keeping them in _threads leaked one dead Thread object per
            # dial for the server's lifetime (review finding, round 7)
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn: socket.socket) -> None:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        f = conn.makefile("rb")
        try:
            while True:
                try:
                    cmd = _read_command(f)
                except (ResponseError, ValueError) as e:
                    conn.sendall(b"-ERR %s\r\n" % str(e).encode())
                    return
                if cmd is None:
                    return
                try:
                    reply = self._dispatch(cmd)
                except ResponseError as e:
                    reply = e
                except (ValueError, NotImplementedError, IndexError, KeyError) as e:
                    reply = ResponseError(str(e))
                conn.sendall(_encode_reply(reply))
        except (ConnectionError, OSError):
            return
        finally:
            try:
                f.close()
                conn.close()
            except OSError:
                pass

    # command dispatch ---------------------------------------------------
    def _dispatch(self, cmd: list[str]):
        name, args = cmd[0].upper(), cmd[1:]
        c = self._store
        if name == "PING":
            return "PONG"
        if name == "SELECT":
            # single-db store: accepting SELECT n>0 silently would put a
            # redis-py driver (which honors the URL db) and a RespClient
            # executor on "different" databases without anyone noticing
            # (review finding, round 7)
            if args and args[0] != "0":
                raise ResponseError(
                    f"DB index {args[0]} out of range: single-db store"
                )
            return "OK"
        if name in ("CLIENT", "HELLO"):
            return "OK"  # connection setup chatter
        if name == "SET":
            key, value, rest = args[0], args[1], [a.upper() for a in args[2:]]
            nx, px = "NX" in rest, None
            if "PX" in rest:
                px = int(args[2 + rest.index("PX") + 1])
            ok = c.set(key, value, nx=nx, px=px)
            return "OK" if ok else None
        if name == "GET":
            return c.get(args[0])
        if name == "DEL":
            return c.delete(*args)
        if name == "EXISTS":
            return c.exists(args[0])
        if name == "PEXPIRE":
            return c.pexpire(args[0], int(args[1]))
        if name == "SADD":
            return c.sadd(args[0], *args[1:])
        if name == "SREM":
            return c.srem(args[0], *args[1:])
        if name == "SMEMBERS":
            return sorted(c.smembers(args[0]))
        if name == "XADD":
            key, i = args[0], 1
            maxlen = None
            approximate = False
            if args[i].upper() == "NOMKSTREAM":
                i += 1
            if args[i].upper() == "MAXLEN":
                i += 1
                if args[i] in ("~", "="):
                    approximate = args[i] == "~"
                    i += 1
                maxlen = int(args[i])
                i += 1
            entry_id = args[i]
            fields = dict(zip(args[i + 1 :: 2], args[i + 2 :: 2]))
            return c.xadd(
                key, fields, id=entry_id, maxlen=maxlen, approximate=approximate
            )
        if name == "XLEN":
            return c.xlen(args[0])
        if name in ("XRANGE", "XREVRANGE"):
            count = None
            if len(args) >= 5 and args[3].upper() == "COUNT":
                count = int(args[4])
            entries = (
                c.xrange(args[0], min=args[1], max=args[2], count=count)
                if name == "XRANGE"
                else c.xrevrange(args[0], max=args[1], min=args[2], count=count)
            )
            return [
                [eid, [x for kv in fields.items() for x in kv]]
                for eid, fields in entries
            ]
        if name == "XTRIM":
            # XTRIM key MAXLEN [~|=] n
            i = 2
            approximate = False
            if args[i] in ("~", "="):
                approximate = args[i] == "~"
                i += 1
            return c.xtrim(args[0], maxlen=int(args[i]), approximate=approximate)
        if name == "EVAL":
            script, numkeys = args[0], int(args[1])
            return c.eval(script, numkeys, *args[2:])
        raise ResponseError(f"unknown command '{name}'")


def _encode_reply(value) -> bytes:
    if isinstance(value, ResponseError):
        return b"-ERR %s\r\n" % str(value).replace("\r\n", " ").encode()
    if value is None:
        return b"$-1\r\n"
    if value is True:
        return b"+OK\r\n"
    if isinstance(value, bool):  # False (True handled above)
        return b":0\r\n"
    if isinstance(value, int):
        return b":%d\r\n" % value
    if isinstance(value, str):
        if value in ("OK", "PONG"):
            return b"+%s\r\n" % value.encode()
        data = value.encode()
        return b"$%d\r\n%s\r\n" % (len(data), data)
    if isinstance(value, (list, tuple)):
        return b"*%d\r\n" % len(value) + b"".join(_encode_reply(v) for v in value)
    raise TypeError(f"cannot encode reply of type {type(value)!r}")


# -- client --------------------------------------------------------------

class RespClient:
    """redis-py-shaped client over a socket, for the RedisStreamLog
    command subset.  One instance = one connection; a lock serializes
    request/response pairs so a shared instance is thread-safe (each
    command is an independent round trip, like redis-py's default
    connection-pool-of-one behavior under a lock)."""

    def __init__(self, host: str, port: int, db: int = 0):
        self.host, self.port, self.db = host, port, db
        self._sock = socket.create_connection((host, port), timeout=30)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._f = self._sock.makefile("rb")
        self._lock = threading.Lock()
        if db:
            # honor the URL's database index the way redis-py does —
            # silently staying on db 0 would split driver (redis-py,
            # db n) and executor (RespClient, db 0) onto different
            # keyspaces (review finding, round 7).  Against the single-db
            # RespServer this raises loudly instead — closing the
            # already-dialed socket first so a failed constructor does
            # not leak one fd per task retry (review finding, round 7).
            try:
                self._call("SELECT", db)
            except BaseException:
                self.close()
                raise

    @classmethod
    def from_url(cls, url: str) -> "RespClient":
        u = urlparse(url)
        if u.scheme not in ("redis", "resp"):
            raise ValueError(f"unsupported url scheme {u.scheme!r}")
        db = int((u.path or "").strip("/") or 0)
        return cls(u.hostname or "127.0.0.1", u.port or 6379, db=db)

    # a pickled client re-dials on first use in the new process — this is
    # what crosses the Spark driver→executor boundary
    def __getstate__(self) -> dict:
        return {"host": self.host, "port": self.port, "db": self.db}

    def __setstate__(self, state: dict) -> None:
        self.__init__(state["host"], state["port"], state.get("db", 0))

    def close(self) -> None:
        try:
            self._f.close()
            self._sock.close()
        except OSError:
            pass

    def _call(self, *args):
        with self._lock:
            self._sock.sendall(encode_command(*args))
            return read_reply(self._f)

    # -- strings / locks -------------------------------------------------
    def set(self, name, value, nx: bool = False, px: int | None = None):
        cmd = ["SET", name, value]
        if nx:
            cmd.append("NX")
        if px is not None:
            cmd += ["PX", px]
        return True if self._call(*cmd) == "OK" else None

    def get(self, name):
        return self._call("GET", name)

    def delete(self, *names):
        return self._call("DEL", *names)

    def exists(self, name):
        return self._call("EXISTS", name)

    def pexpire(self, name, ms):
        return self._call("PEXPIRE", name, ms)

    def eval(self, script, numkeys, *keys_and_args):
        return self._call("EVAL", script, numkeys, *keys_and_args)

    # -- sets ------------------------------------------------------------
    def sadd(self, name, *values):
        return self._call("SADD", name, *values)

    def srem(self, name, *values):
        return self._call("SREM", name, *values)

    def smembers(self, name):
        return set(self._call("SMEMBERS", name))

    # -- streams ---------------------------------------------------------
    @staticmethod
    def _entries(raw):
        return [(eid, dict(zip(flat[::2], flat[1::2]))) for eid, flat in raw]

    def xadd(self, name, fields, id="*", maxlen=None, approximate=True):
        cmd = ["XADD", name]
        if maxlen is not None:
            cmd += ["MAXLEN", "~" if approximate else "=", maxlen]
        cmd.append(id)
        for k, v in fields.items():
            cmd += [k, v]
        try:
            return self._call(*cmd)
        except ResponseError as e:
            # redis-py surfaces the duplicate-id refusal the same way
            raise ValueError(str(e)) from e

    def xlen(self, name):
        return self._call("XLEN", name)

    def xrange(self, name, min="-", max="+", count=None):
        cmd = ["XRANGE", name, min, max]
        if count is not None:
            cmd += ["COUNT", count]
        return self._entries(self._call(*cmd))

    def xrevrange(self, name, max="+", min="-", count=None):
        cmd = ["XREVRANGE", name, max, min]
        if count is not None:
            cmd += ["COUNT", count]
        return self._entries(self._call(*cmd))

    def xtrim(self, name, maxlen, approximate=False):
        return self._call(
            "XTRIM", name, "MAXLEN", "~" if approximate else "=", maxlen
        )

    # -- pipeline --------------------------------------------------------
    def pipeline(self, transaction: bool = True) -> "_RespPipeline":
        """Wire pipelining: commands buffer client-side and flush in one
        sendall on execute(); replies drain in order.  ``transaction`` is
        accepted for redis-py signature parity (no MULTI/EXEC — callers
        hold the stream lock, serialization is theirs)."""
        return _RespPipeline(self)


class _RespPipeline:
    def __init__(self, client: RespClient):
        self._client = client
        self._buf: list[bytes] = []
        self._parsers: list = []

    def _queue(self, parser, *args, on_error=None) -> "_RespPipeline":
        self._buf.append(encode_command(*args))
        self._parsers.append((parser, on_error))
        return self

    def xadd(self, name, fields, id="*", maxlen=None, approximate=True):
        cmd = ["XADD", name]
        if maxlen is not None:
            cmd += ["MAXLEN", "~" if approximate else "=", maxlen]
        cmd.append(id)
        for k, v in fields.items():
            cmd += [k, v]
        # same duplicate-id translation as RespClient.xadd so batched
        # appends surface the identical exception type as single appends
        return self._queue(
            None, *cmd, on_error=lambda e: ValueError(str(e))
        )

    def get(self, name):
        return self._queue(None, "GET", name)

    def xrevrange(self, name, max="+", min="-", count=None):
        cmd = ["XREVRANGE", name, max, min]
        if count is not None:
            cmd += ["COUNT", count]
        return self._queue(RespClient._entries, *cmd)

    def execute(self) -> list:
        client = self._client
        buf, parsers = self._buf, self._parsers
        self._buf, self._parsers = [], []
        if not buf:
            return []
        with client._lock:
            client._sock.sendall(b"".join(buf))
            # Drain ALL replies unconditionally (redis-py behavior): an
            # error reply is still a complete, framed reply, and stopping
            # mid-drain would leave the remaining replies buffered on the
            # shared connection — every later command would then silently
            # read a stale reply.  Only ConnectionError (framing lost /
            # peer gone) may abort the drain.
            out = []
            first_error: Exception | None = None
            for parser, on_error in parsers:
                try:
                    reply = read_reply(client._f)
                except ResponseError as e:
                    err = on_error(e) if on_error else e
                    if first_error is None:
                        first_error = err
                    out.append(err)
                    continue
                out.append(parser(reply) if parser else reply)
            if first_error is not None:
                raise first_error
            return out
