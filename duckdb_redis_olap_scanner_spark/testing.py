"""In-process fake Redis server for tests and demos.

The reference's test suite requires a live, pre-seeded Redis
(``test/sql/scan.test:18`` — "ensure these keys exist before running
tests").  No Redis server nor client library exists in this runtime, so
we ship a tiny RESP2 TCP server (threaded, in-memory dict) implementing
exactly the command surface our engine uses: PING, GET, SET, MGET,
HSET, HGETALL, SCAN (cursor + MATCH glob + COUNT), TYPE, DEL, FLUSHALL.

SCAN semantics: we snapshot the key list per cursor sequence and page
through it — a *stable* keyspace scan, which matches the assumption the
reference's own golden tests make (stable keyspace, sorted assertions).

Fidelity (r16 audit → r17 fixes): the fake now matches the public
command docs on WRONGTYPE (reads and writes), TTL lifecycle (DEL/SET/
FLUSHALL destroy TTLs; EXPIRE <= 0 deletes), HSET arity, XRANGE/
XREVRANGE incomplete-id seq defaults, SCAN COUNT/TYPE validation,
HELLO -NOPROTO, single-prefix error lines, RESP3 ``_`` nulls, ZRANGE
REV, and PING echo — pinned by tests/test_fake_redis_fidelity.py.
Remaining DESIGN CHOICES (re-affirmed by the audit, intentionally kept):
snapshot SCAN (within the public SCAN guarantee), static TTLs (no
wall-clock decay), deterministic XADD '*' ids (last+1, not server
time), stand-in slot numbers in -MOVED/-ASK redirects (clients parse
but never interpret the slot), and inline-command rejection.

Binary safety: command arguments decode with ``surrogateescape`` and
every reply encodes them back the same way, so keys, fields and values
that are not UTF-8 store and return byte for byte, as in real Redis.

Protocol: connections start RESP2; HELLO 3 switches the connection to
RESP3, flipping the two reply shapes that changed (HGETALL → ``%`` map,
ZRANGE WITHSCORES → [member, double] pairs), as real Redis does.

Cluster-redirect simulation (r13): ``store.moved`` / ``store.ask`` /
``store.importing`` mark keys as resharded-away / mid-migration /
ASKING-gated, and key commands answer ``-MOVED``/``-ASK`` accordingly —
enough surface to test a scan+fetch read overlapping a live reshard.
"""

from __future__ import annotations

import fnmatch
import socket
import socketserver
import threading
from typing import Any

from .transport.resp import CRLF, RespProtocolError, _SocketReader

# Error classes real Redis replies lead with — the only first tokens
# _encode treats as an already-coded error line. Everything else
# (including all-caps command names leaking from a future
# ValueError('XADD requires ...')) gets the generic ERR prefix.
_REDIS_ERROR_CODES = frozenset({
    "ERR", "WRONGTYPE", "MOVED", "ASK", "NOPROTO", "NOAUTH",
    "WRONGPASS", "NOPERM", "LOADING", "BUSYGROUP", "BUSYKEY",
    "CLUSTERDOWN", "CROSSSLOT", "TRYAGAIN", "EXECABORT", "NOSCRIPT",
    "NOTBUSY", "READONLY", "OOM", "MASTERDOWN", "MISCONF",
    "NOREPLICAS", "NOGROUP", "UNBLOCKED",
})


def _wire(s: str) -> bytes:
    """``s`` back as the bytes it was read from: command arguments are
    decoded with ``surrogateescape``, so a byte that is not UTF-8
    round-trips to the exact byte the client sent."""
    return s.encode("utf-8", "surrogateescape")


def _encode(obj: Any, proto: int = 2) -> bytes:
    """Encode a Python value as a RESP reply. ``proto`` only affects
    the null shape: RESP3 connections get the ``_`` null, RESP2 the
    null bulk ``$-1`` — the one reply encoding HELLO 3 changes that
    this fake emits (r17 fidelity fix; the map/double switches are
    handled by their commands directly)."""
    if obj is None:
        return b"_\r\n" if proto >= 3 else b"$-1\r\n"
    if isinstance(obj, bool):
        return b":1\r\n" if obj else b":0\r\n"
    if isinstance(obj, int):
        return b":%d\r\n" % obj
    if isinstance(obj, str):
        obj = _wire(obj)
    if isinstance(obj, bytes):
        return b"$%d\r\n" % len(obj) + obj + CRLF
    if isinstance(obj, (list, tuple)):
        return b"*%d\r\n" % len(obj) + b"".join(
            _encode(x, proto) for x in obj
        )
    if isinstance(obj, Exception):
        # Real error lines carry exactly ONE leading code token; only
        # prepend the generic ERR when the message doesn't already
        # start with a code (r17 fix for '-ERR ERR ...' double
        # prefixes from ValueError('ERR ...') raises). The code check
        # is a WHITELIST of error classes real Redis emits, not "any
        # all-caps first word": a raise like ValueError('XADD requires
        # ...') must surface as '-ERR XADD requires ...', not invent a
        # non-existent '-XADD' error class (ADVICE r17).
        msg = str(obj)
        first = msg.split(" ", 1)[0]
        if first not in _REDIS_ERROR_CODES:
            msg = "ERR " + msg
        return b"-" + _wire(msg) + CRLF
    raise TypeError(f"cannot encode {type(obj)}")


def _simple(s: str) -> bytes:
    return b"+" + _wire(s) + CRLF


def _encode_double(x: float) -> bytes:
    """RESP3 double (``,``): integer-valued doubles print without a
    decimal point, as real Redis formats them."""
    return b",%s\r\n" % (
        str(int(x)) if x == int(x) else repr(x)
    ).encode("utf-8")


def _error(msg: str) -> bytes:
    """A verbatim RESP error line (no ERR prefix prepended)."""
    return b"-" + _wire(msg) + CRLF


# The exact real-server wording; clients match on the WRONGTYPE code.
_WRONGTYPE = (
    "WRONGTYPE Operation against a key holding the wrong kind of value"
)


def _fake_slot(key: str) -> int:
    """A deterministic slot number for redirect errors. Clients parse
    but never interpret the slot, so a stand-in hash (not real
    CRC16-XMODEM of the hash tag) serves the wire contract."""
    return sum(_wire(key)) % 16384


def _encode_map(d: dict, proto: int) -> bytes:
    """A key/value reply in the connection's protocol: RESP3 ``%`` map
    when negotiated, else the RESP2 flat field/value array — exactly
    the HGETALL shape switch real Redis performs after HELLO 3."""
    if proto >= 3:
        out = [b"%%%d\r\n" % len(d)]
        for k, v in d.items():
            out.append(_encode(k))
            out.append(_encode(v))
        return b"".join(out)
    flat: list = []
    for k, v in d.items():
        flat += [k, v]
    return _encode(flat)


def _glob_match(pattern: str, key: str) -> bool:
    # Redis globs and fnmatch agree on * ? [...]; fnmatch.translate is
    # case-sensitive via fnmatchcase.
    return fnmatch.fnmatchcase(key, pattern)


class FakeRedisStore:
    def __init__(self) -> None:
        self.strings: dict[str, str] = {}
        self.hashes: dict[str, dict[str, str]] = {}
        # zset key -> member -> score (ZRANGE orders by (score, member))
        self.zsets: dict[str, dict[str, float]] = {}
        self.lists: dict[str, list[str]] = {}
        # stream key -> list of (id, [field, value, ...]) in append order
        self.streams: dict[str, list[tuple[str, list[str]]]] = {}
        # last generated/accepted (ms, seq) per stream — XADD enforces
        # strictly-increasing ids, so the entry list stays sorted.
        self._stream_last: dict[str, tuple[int, int]] = {}
        # largest (ms, seq) ever evicted per stream (XTRIM) — what real
        # Redis 7 surfaces as XINFO STREAM max-deleted-entry-id; the
        # stream source's trim-loss detection reads it.
        self._stream_max_deleted: dict[str, tuple[int, int]] = {}
        # Pre-7.0 simulation: XINFO answers "unknown command", forcing
        # the stream source onto its XREVRANGE fallback path (tests
        # poke this directly to exercise the weaker no-XINFO contract).
        self.pre_xinfo = False
        self.lock = threading.Lock()
        self._scan_snapshots: dict[int, list[str]] = {}
        self._next_snapshot = 1
        # (start_slot, end_slot, host, port) rows served by CLUSTER
        # SLOTS; None = standalone instance (command errors, as real).
        self.cluster_slots: list[tuple[int, int, str, int]] | None = None
        # Cluster-redirect simulation (tests poke these directly):
        # key → (host, port). ``moved`` answers key commands with a
        # permanent -MOVED redirect (slot resharded away); ``ask``
        # answers with a one-request -ASK (slot mid-migration);
        # ``importing`` marks keys this node serves ONLY on a
        # connection that sent ASKING immediately before — otherwise
        # it redirects back to the migration source, as a real
        # importing node does.
        self.moved: dict[str, tuple[str, int]] = {}
        self.ask: dict[str, tuple[str, int]] = {}
        self.importing: dict[str, tuple[str, int]] = {}
        # When True, MGET answers -CROSSSLOT like a real cluster node
        # does for keys spanning slots (virtually every SCAN-page MGET
        # on a real cluster) — clients must recover per key.
        self.crossslot_mget = False
        # key -> seconds, served STATICALLY by TTL (the fake never
        # expires keys; tests pin the plumbing, not wall-clock decay)
        self.ttls: dict[str, int] = {}

    def all_keys(self) -> list[str]:
        return (
            list(self.strings.keys())
            + list(self.hashes.keys())
            + list(self.streams.keys())
            + list(self.zsets.keys())
            + list(self.lists.keys())
        )

    def type_of(self, key: str) -> str | None:
        """The key's value type, or None when absent — the single
        source of truth for TYPE, SCAN TYPE filtering, and the
        WRONGTYPE guards (r17 fidelity fix: before this, per-type
        dicts could silently fork one key into two types)."""
        if key in self.strings:
            return "string"
        if key in self.hashes:
            return "hash"
        if key in self.zsets:
            return "zset"
        if key in self.lists:
            return "list"
        if key in self.streams or key in self._stream_last:
            # A stream trimmed to zero entries still EXISTS (real
            # Redis keeps the key and its id counter).
            return "stream"
        return None

    def del_key(self, key: str) -> int:
        """Remove a key and ALL its state — value, stream id counter,
        and TTL (r17 fix: DEL must not resurrect a TTL onto a later
        SET of the same name). Returns 1 if the key existed."""
        existed = self.type_of(key) is not None
        self.strings.pop(key, None)
        self.hashes.pop(key, None)
        self.zsets.pop(key, None)
        self.lists.pop(key, None)
        self.streams.pop(key, None)
        self._stream_last.pop(key, None)
        self._stream_max_deleted.pop(key, None)
        self.ttls.pop(key, None)
        return 1 if existed else 0


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # noqa: C901 - command dispatch
        store: FakeRedisStore = self.server.store  # type: ignore[attr-defined]
        reader = _SocketReader(self.request)
        # Per-connection negotiated protocol (HELLO switches it), as in
        # real Redis — other connections stay on RESP2.
        self.proto = 2
        # Per-connection one-shot ASKING authorization (cluster ASK).
        self._asking = False
        while True:
            try:
                cmd = self._read_command(reader)
            except (RespProtocolError, ConnectionError, OSError):
                return
            if cmd is None:
                return
            try:
                reply = self._dispatch(store, cmd)
            except Exception as e:  # -> RESP error reply
                reply = _encode(e)
            try:
                self.request.sendall(reply)
            except OSError:
                return

    def _read_command(self, reader: _SocketReader) -> list[str] | None:
        """One command's arguments as str, binary-safe: bytes that are
        not UTF-8 decode to surrogate escapes, and every reply encodes
        them back (:func:`_wire`), so keys, fields and values of any
        bytes store and return exactly as real Redis does."""
        line = reader.read_line()
        if not line.startswith(b"*"):
            raise RespProtocolError("inline commands unsupported")
        n = int(line[1:])
        args = []
        for _ in range(n):
            hdr = reader.read_line()
            if not hdr.startswith(b"$"):
                raise RespProtocolError("expected bulk string")
            args.append(
                reader.read_exact(int(hdr[1:])).decode(
                    "utf-8", "surrogateescape"
                )
            )
        return args

    @staticmethod
    def _redirect_for(
        store: FakeRedisStore, key: str, asking: bool
    ) -> bytes | None:
        """A -MOVED/-ASK reply when ``key`` is marked redirected on
        this node, honoring the connection's ASKING authorization for
        keys in the importing set. None when the key is served here."""
        if key in store.moved:
            host, port = store.moved[key]
            return _error(f"MOVED {_fake_slot(key)} {host}:{port}")
        if key in store.ask and not asking:
            host, port = store.ask[key]
            return _error(f"ASK {_fake_slot(key)} {host}:{port}")
        if key in store.importing and not asking:
            host, port = store.importing[key]
            return _error(f"MOVED {_fake_slot(key)} {host}:{port}")
        return None

    def _dispatch(self, store: FakeRedisStore, cmd: list[str]) -> bytes:
        name, args = cmd[0].upper(), cmd[1:]
        # ASKING authorizes exactly the NEXT command on this
        # connection, as on a real importing node.
        asking, self._asking = self._asking, False
        if name == "ASKING":
            self._asking = True
            return _simple("OK")
        with store.lock:
            if name in (
                "GET", "SET", "TTL", "EXPIRE",
                "HGETALL", "HSET", "ZADD", "RPUSH",
            ) and args:
                red = self._redirect_for(store, args[0], asking)
                if red is not None:
                    return red
            if name == "MGET":
                if store.crossslot_mget and len(args) > 1:
                    return _error(
                        "CROSSSLOT Keys in request don't hash to the "
                        "same slot"
                    )
                # A real cluster MGET errors whole-command when a
                # key's slot is elsewhere; reply for the first such
                # key.
                for k in args:
                    red = self._redirect_for(store, k, asking)
                    if red is not None:
                        return red
            if name == "PING":
                # PING with a message echoes it as a bulk string, as
                # real Redis (r17 fidelity fix).
                if args:
                    return _encode(args[0])
                return _simple("PONG")
            if name == "HELLO":
                if args:
                    try:
                        want = int(args[0])
                    except ValueError:
                        want = -1
                    if want not in (2, 3):
                        # Real Redis keys client fallback logic off the
                        # -NOPROTO prefix (r17 fidelity fix).
                        return _error(
                            "NOPROTO unsupported protocol version"
                        )
                    self.proto = want
                info = {
                    "server": "fake-redis",
                    "version": "7.4.0",
                    "proto": self.proto,
                    "id": 1,
                    "mode": "standalone",
                    "role": "master",
                }
                return _encode_map(info, self.proto)
            if name == "SET":
                # SET replaces a key of ANY type, as real Redis —
                # leaving a stale container entry would make the
                # type-strict GET answer WRONGTYPE for a string key.
                # Plain SET (no KEEPTTL) also discards any TTL the key
                # had — the documented semantic since 2.x (r17 fix).
                store.del_key(args[0])
                store.strings[args[0]] = args[1]
                return _simple("OK")
            if name == "GET":
                # Type-strict like real Redis: GET on a non-string key
                # is WRONGTYPE (while MGET below yields nil for it).
                if store.type_of(args[0]) not in (None, "string"):
                    return _error(_WRONGTYPE)
                return _encode(store.strings.get(args[0]), self.proto)
            if name == "MGET":
                return _encode(
                    [store.strings.get(k) for k in args], self.proto
                )
            if name == "HSET":
                if len(args) < 3 or (len(args) - 1) % 2 != 0:
                    # A dangling field with no value is a wrong-arity
                    # error in real Redis, not a silently-dropped
                    # write (r17 fix).
                    return _error(
                        "ERR wrong number of arguments for "
                        "'hset' command"
                    )
                if store.type_of(args[0]) not in (None, "hash"):
                    return _error(_WRONGTYPE)
                h = store.hashes.setdefault(args[0], {})
                added = 0
                for f, v in zip(args[1::2], args[2::2]):
                    added += 0 if f in h else 1
                    h[f] = v
                return _encode(added)
            if name == "HGETALL":
                if store.type_of(args[0]) not in (None, "hash"):
                    return _error(_WRONGTYPE)
                h = store.hashes.get(args[0], {})
                return _encode_map(h, self.proto)
            if name == "TYPE":
                return _simple(store.type_of(args[0]) or "none")
            if name == "ZADD":
                if len(args) < 3 or (len(args) - 1) % 2 != 0:
                    # dangling score/member pairs are a wrong-arity
                    # error in real Redis and must not create a
                    # phantom empty key (r17 review)
                    return _error(
                        "ERR wrong number of arguments for "
                        "'zadd' command"
                    )
                if store.type_of(args[0]) not in (None, "zset"):
                    return _error(_WRONGTYPE)
                z = store.zsets.setdefault(args[0], {})
                added = 0
                for sc, member in zip(args[1::2], args[2::2]):
                    added += 0 if member in z else 1
                    z[member] = float(sc)
                return _encode(added)
            if name == "ZCARD":
                if store.type_of(args[0]) not in (None, "zset"):
                    return _error(_WRONGTYPE)
                return _encode(len(store.zsets.get(args[0], {})))
            if name == "ZRANGE":
                # ZRANGE key start stop [REV] [WITHSCORES] —
                # index-based over the (score, member) order; negative
                # indices from the end; REV (6.2+) indexes from the
                # HIGHEST-ranked member down (r17 fix: previously
                # silently ignored, returning ascending order).
                if store.type_of(args[0]) not in (None, "zset"):
                    return _error(_WRONGTYPE)
                z = store.zsets.get(args[0], {})
                ordered = sorted(z.items(), key=lambda kv: (kv[1], kv[0]))
                if any(a.upper() == "REV" for a in args[3:]):
                    ordered.reverse()
                start, stop = int(args[1]), int(args[2])
                n = len(ordered)
                if start < 0:
                    start += n
                if stop < 0:
                    stop += n
                sel = ordered[max(start, 0) : stop + 1] if stop >= 0 else []
                withscores = any(a.upper() == "WITHSCORES" for a in args[3:])
                if withscores and self.proto >= 3:
                    # RESP3 shape switch, as real Redis after HELLO 3:
                    # an array of [member, double] pairs instead of the
                    # flat member/score bulk-string alternation.
                    return b"*%d\r\n" % len(sel) + b"".join(
                        b"*2\r\n" + _encode(m) + _encode_double(sc)
                        for m, sc in sel
                    )
                flat: list[str] = []
                for m, sc in sel:
                    flat.append(m)
                    if withscores:
                        # Integer-valued scores print without a decimal
                        # point, as real Redis formats them.
                        flat.append(
                            str(int(sc)) if sc == int(sc) else repr(sc)
                        )
                return _encode(flat)
            if name == "RPUSH":
                if len(args) < 2:
                    # RPUSH with no elements errors in real Redis and
                    # must not create a phantom empty list (r17 review)
                    return _error(
                        "ERR wrong number of arguments for "
                        "'rpush' command"
                    )
                if store.type_of(args[0]) not in (None, "list"):
                    return _error(_WRONGTYPE)
                lst = store.lists.setdefault(args[0], [])
                lst.extend(args[1:])
                return _encode(len(lst))
            if name == "LLEN":
                if store.type_of(args[0]) not in (None, "list"):
                    return _error(_WRONGTYPE)
                return _encode(len(store.lists.get(args[0], [])))
            if name == "LRANGE":
                if store.type_of(args[0]) not in (None, "list"):
                    return _error(_WRONGTYPE)
                lst = store.lists.get(args[0], [])
                start, stop = int(args[1]), int(args[2])
                n = len(lst)
                if start < 0:
                    start += n
                if stop < 0:
                    stop += n
                return _encode(
                    lst[max(start, 0) : stop + 1] if stop >= 0 else []
                )
            if name == "DEL":
                # del_key destroys ALL key state, as real Redis: a
                # recreated stream starts its id counter fresh, XINFO
                # on the deleted key errors (r14 review), and the TTL
                # dies with the key so a later SET cannot resurrect it
                # (r17 fix).
                return _encode(sum(store.del_key(k) for k in args))
            if name == "FLUSHALL":
                store.strings.clear()
                store.hashes.clear()
                store.zsets.clear()
                store.lists.clear()
                store.streams.clear()
                store._stream_last.clear()
                store._stream_max_deleted.clear()
                # TTLs die with their keys (same resurrection hazard
                # DEL had — r17 fix).
                store.ttls.clear()
                return _simple("OK")
            if name == "DBSIZE":
                return _encode(len(store.all_keys()))
            if name == "TTL":
                k = args[0]
                if store.type_of(k) is None:
                    return _encode(-2)
                return _encode(store.ttls.get(k, -1))
            if name == "EXPIRE":
                k = args[0]
                if store.type_of(k) is None:
                    return _encode(0)
                secs = int(args[1])
                if secs <= 0:
                    # A non-positive timeout deletes the key outright,
                    # documented since 2.1.3 (r17 fix: previously the
                    # negative TTL was stored and the key kept).
                    store.del_key(k)
                else:
                    store.ttls[k] = secs
                return _encode(1)
            if name == "SCAN":
                return self._scan(store, args)
            if name == "CLUSTER" and args and args[0].upper() == "SLOTS":
                if store.cluster_slots is None:
                    raise ValueError(
                        "ERR This instance has cluster support disabled"
                    )
                return _encode(
                    [
                        [start, end, [host, port, f"node-{port}"]]
                        for start, end, host, port in store.cluster_slots
                    ]
                )
            if name == "XADD":
                # XADD key <id|*> field value [field value ...].
                # Explicit ids are 'ms[-seq]' (seq defaults to 0, as in
                # real Redis) and must be strictly greater than the
                # stream's last id — rejecting non-increasing ids keeps
                # the entry list sorted, which XRANGE paging relies on.
                if len(args) < 4 or (len(args) - 2) % 2 != 0:
                    # at least one full field/value pair, no dangling
                    # field (r17 review — same arity class as HSET)
                    return _error(
                        "ERR wrong number of arguments for "
                        "'xadd' command"
                    )
                key, req_id = args[0], args[1]
                if store.type_of(key) not in (None, "stream"):
                    return _error(_WRONGTYPE)
                last = store._stream_last.get(key, (0, 0))
                if req_id == "*":
                    new = (last[0], last[1] + 1)
                else:
                    parts = req_id.split("-")
                    new = (int(parts[0]), int(parts[1]) if len(parts) > 1 else 0)
                    if new <= last:
                        raise ValueError(
                            "ERR The ID specified in XADD is equal or "
                            "smaller than the target stream top item"
                        )
                store._stream_last[key] = new
                entry_id = f"{new[0]}-{new[1]}"
                store.streams.setdefault(key, []).append((entry_id, args[2:]))
                return _encode(entry_id)
            if name == "XLEN":
                if store.type_of(args[0]) not in (None, "stream"):
                    return _error(_WRONGTYPE)
                return _encode(len(store.streams.get(args[0], [])))
            if name == "XTRIM":
                # XTRIM key MAXLEN [~] n — evict oldest entries past the
                # cap, tracking the largest evicted id (what real Redis
                # surfaces as max-deleted-entry-id).
                key = args[0]
                if store.type_of(key) not in (None, "stream"):
                    return _error(_WRONGTYPE)
                rest = [a for a in args[1:] if a != "~"]
                if not rest or rest[0].upper() != "MAXLEN":
                    raise ValueError("ERR syntax error")
                cap = int(rest[1])
                entries = store.streams.get(key, [])
                evicted = 0
                while len(entries) > cap:
                    sid, _ = entries.pop(0)
                    ms, seq = sid.split("-")
                    prev = store._stream_max_deleted.get(key, (0, 0))
                    store._stream_max_deleted[key] = max(
                        prev, (int(ms), int(seq))
                    )
                    evicted += 1
                return _encode(evicted)
            if name == "XINFO" and args and args[0].upper() == "STREAM":
                if store.pre_xinfo:
                    return _error(
                        "ERR unknown command 'XINFO', with args "
                        "beginning with: 'STREAM'"
                    )
                key = args[1]
                if key not in store.streams and key not in store._stream_last:
                    # real Redis errors on a missing key — the stream
                    # source treats that as loss under a live
                    # checkpoint, so the fake must not fabricate a
                    # healthy empty reply (r14 review)
                    return _error("ERR no such key")
                last = store._stream_last.get(key, (0, 0))
                mdel = store._stream_max_deleted.get(key, (0, 0))
                return _encode(
                    [
                        "length",
                        len(store.streams.get(key, [])),
                        "last-generated-id",
                        f"{last[0]}-{last[1]}",
                        "max-deleted-entry-id",
                        f"{mdel[0]}-{mdel[1]}",
                    ]
                )
            if name == "XRANGE":
                # XRANGE key start end [COUNT n]; '-'/'+' = min/max; a
                # '(' prefix on start means exclusive (Redis 6.2+).
                # Incomplete-id rule (r17 fix): an ms-only id means
                # seq 0 at the START bound but seq MAX at the END
                # bound, so 'XRANGE s 5 5' spans all of ms 5.
                key, start, end = args[0], args[1], args[2]
                if store.type_of(key) not in (None, "stream"):
                    return _error(_WRONGTYPE)
                count = None
                if len(args) >= 5 and args[3].upper() == "COUNT":
                    count = int(args[4])
                exclusive = start.startswith("(")
                if exclusive:
                    start = start[1:]

                def _key(sid: str, default_seq: int = 0) -> tuple[int, int]:
                    ms, _, seq = sid.partition("-")
                    return (int(ms), int(seq) if seq else default_seq)

                lo = _key(start, 0) if start != "-" else (-1, -1)
                hi = _key(end, 2**62) if end != "+" else (2**62, 2**62)
                out = []
                for sid, fields in store.streams.get(key, []):
                    k = _key(sid)
                    if (k > lo if exclusive else k >= lo) and k <= hi:
                        out.append([sid, fields])
                        if count is not None and len(out) >= count:
                            break
                return _encode(out)
            if name == "XREVRANGE":
                # XREVRANGE key end start [COUNT n] — highest-first; the
                # COUNT 1 form is how latestOffset() reads the newest id
                # without materializing the stream.
                key, end, start = args[0], args[1], args[2]
                if store.type_of(key) not in (None, "stream"):
                    return _error(_WRONGTYPE)
                count = None
                if len(args) >= 5 and args[3].upper() == "COUNT":
                    count = int(args[4])

                def _rkey(sid: str, default_seq: int = 0) -> tuple[int, int]:
                    ms, _, seq = sid.partition("-")
                    return (int(ms), int(seq) if seq else default_seq)

                # Same incomplete-id rule as XRANGE: seq defaults to
                # max at the END bound, 0 at the START bound.
                hi = _rkey(end, 2**62) if end != "+" else (2**62, 2**62)
                lo = _rkey(start, 0) if start != "-" else (-1, -1)
                out = []
                for sid, fields in reversed(store.streams.get(key, [])):
                    k = _rkey(sid)
                    if lo <= k <= hi:
                        out.append([sid, fields])
                        if count is not None and len(out) >= count:
                            break
                return _encode(out)
        raise ValueError(f"unknown command '{name}'")

    def _scan(self, store: FakeRedisStore, args: list[str]) -> bytes:
        cursor = int(args[0])
        match, count, want_type = "*", 10, None
        i = 1
        while i < len(args):
            opt = args[i].upper()
            if i + 1 >= len(args):
                return _error("ERR syntax error")
            if opt == "MATCH":
                match = args[i + 1]
            elif opt == "COUNT":
                count = int(args[i + 1])
                if count <= 0:
                    # Real SCAN rejects COUNT <= 0; serving an empty
                    # page with an unchanged cursor would loop a
                    # paging client forever (r17 fix).
                    return _error("ERR syntax error")
            elif opt == "TYPE":
                # SCAN TYPE (6.0+) filters by value type (r17 fix:
                # previously silently ignored = over-matching).
                want_type = args[i + 1].lower()
            else:
                return _error("ERR syntax error")
            i += 2
        # cursor encoding: snapshot_id * 1_000_000_000 + offset
        if cursor == 0:
            snap_id = store._next_snapshot
            store._next_snapshot += 1
            store._scan_snapshots[snap_id] = store.all_keys()
            offset = 0
        else:
            snap_id, offset = divmod(cursor, 1_000_000_000)
        keys = store._scan_snapshots.get(snap_id, [])
        page = keys[offset : offset + count]
        new_offset = offset + count
        if new_offset >= len(keys):
            next_cursor = "0"
            store._scan_snapshots.pop(snap_id, None)
        else:
            next_cursor = str(snap_id * 1_000_000_000 + new_offset)
        matched = [
            k
            for k in page
            if _glob_match(match, k)
            and (want_type is None or store.type_of(k) == want_type)
        ]
        return _encode([next_cursor, matched])


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class FakeRedisServer:
    """Threaded fake Redis bound to 127.0.0.1:<ephemeral port>."""

    def __init__(self) -> None:
        self.store = FakeRedisStore()
        self._server = _Server(("127.0.0.1", 0), _Handler)
        self._server.store = self.store  # type: ignore[attr-defined]
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True, name="fake-redis"
        )

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def start(self) -> "FakeRedisServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "FakeRedisServer":
        return self.start()

    def __exit__(self, *exc: Any) -> None:
        self.stop()

    # -- seeding helpers -------------------------------------------------------
    def seed_strings(self, kv: dict[str, str]) -> None:
        with self.store.lock:
            self.store.strings.update(kv)

    def seed_hashes(self, kh: dict[str, dict[str, str]]) -> None:
        with self.store.lock:
            for k, h in kh.items():
                self.store.hashes.setdefault(k, {}).update(h)

    def seed_zset(self, key: str, members: dict[str, float]) -> None:
        with self.store.lock:
            self.store.zsets.setdefault(key, {}).update(members)

    def seed_list(self, key: str, elements: list[str]) -> None:
        with self.store.lock:
            self.store.lists.setdefault(key, []).extend(elements)

    def seed_ttls(self, ttls: dict[str, int]) -> None:
        """Static per-key TTL values served by the TTL command (the
        fake never expires keys — plumbing, not wall-clock decay)."""
        with self.store.lock:
            self.store.ttls.update(ttls)

    def set_cluster_slots(
        self, entries: list[tuple[int, int, str, int]]
    ) -> None:
        """Serve ``CLUSTER SLOTS`` with these (start_slot, end_slot,
        host, port) rows — lets a handful of FakeRedisServer instances
        impersonate a Redis Cluster's slot topology for the
        ``cluster_slots`` source option."""
        with self.store.lock:
            self.store.cluster_slots = list(entries)


def seed_reference_fixture(server: FakeRedisServer) -> None:
    """The keyspace implied by the reference's golden test
    (``test/sql/scan.test:19-29``): keys testkey:0001..testkey:0010,
    plus non-matching keys to exercise MATCH filtering."""
    server.seed_strings(
        {f"testkey:{i:04d}": f"value:{i:04d}" for i in range(1, 11)}
    )
    server.seed_strings({"other:0001": "nope", "other:0002": "nope"})
    server.seed_hashes(
        {
            "user:1001": {"name": "ada", "age": "36"},
            "user:1002": {"name": "grace", "city": "nyc"},
        }
    )
    server.seed_zset(
        "rank:global", {f"item:{i:04d}": float(i * 10) for i in range(1, 11)}
    )
    server.seed_list("queue:jobs", [f"job:{i:04d}" for i in range(1, 9)])


_GOLDEN_SERVER: FakeRedisServer | None = None
_GOLDEN_CLUSTER: list[FakeRedisServer] | None = None
# One lock for both golden bootstraps: assign-after-seed alone still
# allows two concurrent callers to start two servers (r14 review).
_GOLDEN_LOCK = threading.Lock()


def golden_cluster_address() -> str:
    """Seed-node address of a process-wide THREE-NODE fake cluster:
    keys ``clusterkey:0001..0030`` are placed on the node owning their
    real CRC16 hash slot (three even 16384/3 ranges), and every node
    serves the full CLUSTER SLOTS topology. A ``cluster_slots=true``
    scan against the seed must union the three nodes exactly once —
    the golden oracle hash pins both completeness and
    duplicate-freedom."""
    global _GOLDEN_CLUSTER
    with _GOLDEN_LOCK:
        if _GOLDEN_CLUSTER is not None:
            return _GOLDEN_CLUSTER[0].address
        from .sources.redis_source import key_slot

        nodes = [FakeRedisServer().start() for _ in range(3)]
        ranges = [(0, 5460), (5461, 10922), (10923, 16383)]
        for i in range(1, 31):
            k = f"clusterkey:{i:04d}"
            s = key_slot(k)
            for (lo, hi), node in zip(ranges, nodes):
                if lo <= s <= hi:
                    node.seed_strings({k: f"value:{i:04d}"})
        topo = [
            (lo, hi, n.host, n.port) for (lo, hi), n in zip(ranges, nodes)
        ]
        for n in nodes:
            n.set_cluster_slots(topo)
        _GOLDEN_CLUSTER = nodes
    return _GOLDEN_CLUSTER[0].address


def golden_server_address() -> str:
    """Address of a process-wide fake server pre-seeded with the
    reference's golden keyspace, started on first use. This is the
    TEST-INFRA fallback the Redis catalog entries use when no real
    server address is configured (``SPARK_GRAFT_REDIS_ADDR``) — the
    server bootstrap lives here, not in catalog code."""
    global _GOLDEN_SERVER
    with _GOLDEN_LOCK:
        if _GOLDEN_SERVER is None:
            # Seed BEFORE publishing: a concurrent caller seeing the
            # global must never scan a half-seeded keyspace (r14
            # review — the cluster sibling below already did this).
            srv = FakeRedisServer().start()
            seed_reference_fixture(srv)
            _GOLDEN_SERVER = srv
    return _GOLDEN_SERVER.address
