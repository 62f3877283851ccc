"""Replay Redis server for the benchmark, run as its own process:

    python3 perfbench/replay_server.py KEYSPACE_JSON... [--corrupt]

It prints ``READY <port>`` once it listens on 127.0.0.1.  Replies are
joined from RESP fragments encoded once at start-up, so per-request
server cost stays small next to the client's.  It has its own RESP
encoder and request framer and imports nothing from the engine: a change
to the engine's transport cannot speed up the server too.

Commands: PING, HELLO [2|3], SCAN cursor [MATCH glob] [COUNT n], GET,
MGET, HGETALL (RESP2 array, or RESP3 map after HELLO 3) and SET.  A
connection that sends ``BENCH.CTL`` becomes a control connection and is
left out of every counter; it may then send ``BENCH.STATS`` (cumulative
counters as a JSON bulk string), ``BENCH.PEAK`` (most data connections
open at once since the last call), ``BENCH.RECORD 1|0`` (log each data
round trip's request bytes and reply size) and ``BENCH.DUMP path``
(write that log).

``--corrupt`` flips one byte in the first string value, so a reader
that checks its results must report a wrong answer.
"""

from __future__ import annotations

import fnmatch
import json
import os
import selectors
import signal
import socket
import struct
import sys
import time
import zlib

OK = b"+OK\r\n"
NIL = b"$-1\r\n"


def bulk(b: bytes) -> bytes:
    return b"$%d\r\n%s\r\n" % (len(b), b)


def error(msg: str) -> bytes:
    return b"-ERR %s\r\n" % msg.encode()


class Incomplete(Exception):
    pass


def frame(buf: bytes, pos: int) -> tuple[list[list[bytes]], int]:
    """Split complete RESP request arrays off ``buf`` from ``pos``.
    Returns the commands and the offset of the first unconsumed byte."""
    cmds: list[list[bytes]] = []
    n = len(buf)
    find = buf.find
    while pos < n:
        try:
            if buf[pos] != 42:  # '*'
                raise ValueError("request is not a RESP array")
            e = find(b"\r\n", pos)
            if e < 0:
                raise Incomplete
            p = e + 2
            args = []
            for _ in range(int(buf[pos + 1 : e])):
                e = find(b"\r\n", p)
                if e < 0:
                    raise Incomplete
                s = e + 2
                end = s + int(buf[p + 1 : e])
                if end + 2 > n:
                    raise Incomplete
                args.append(buf[s:end])
                p = end + 2
        except Incomplete:
            break
        cmds.append(args)
        pos = p
    return cmds, pos


class Store:
    def __init__(self, paths: list[str], corrupt: bool) -> None:
        self.strings: dict[bytes, bytes] = {}
        self.hashes: dict[bytes, tuple[int, bytes]] = {}
        order: list[bytes] = []
        for path in paths:
            with open(path) as f:
                data = json.load(f)
            for k, v in data["strings"]:
                vb = v.encode()
                if corrupt and not order:
                    vb = bytes([vb[0] ^ 1]) + vb[1:]
                kb = k.encode()
                self.strings[kb] = bulk(vb)
                order.append(kb)
            for k, fields in data["hashes"]:
                kb = k.encode()
                body = b"".join(bulk(f.encode()) + bulk(v.encode()) for f, v in fields)
                self.hashes[kb] = (len(fields), body)
                order.append(kb)
        # SCAN walks keys in this fixed order; a cursor is an index.
        self.order = order
        self.key_frag = [bulk(k) for k in order]

    def scan(self, args: list[bytes]) -> bytes:
        cursor, match, count = int(args[1]), b"*", 10
        for i in range(2, len(args) - 1, 2):
            opt = args[i].upper()
            if opt == b"MATCH":
                match = args[i + 1]
            elif opt == b"COUNT":
                count = int(args[i + 1])
        end = min(cursor + count, len(self.order))
        idx = range(cursor, end)
        head = match[:-1]
        if match == b"*":
            frags = self.key_frag[cursor:end]
        elif match.endswith(b"*") and not any(c in head for c in b"*?[\\"):
            order = self.order
            frags = [self.key_frag[i] for i in idx if order[i].startswith(head)]
        else:
            pat = match.decode()
            frags = [
                self.key_frag[i] for i in idx
                if fnmatch.fnmatchcase(self.order[i].decode(), pat)
            ]
        nxt = b"0" if end >= len(self.order) else b"%d" % end
        return b"*2\r\n" + bulk(nxt) + b"*%d\r\n" % len(frags) + b"".join(frags)


class Conn:
    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.inbuf = b""
        self.out = b""
        self.proto = 2
        self.control = False
        self.in_trip = False


class Server:
    def __init__(self, store: Store) -> None:
        self.store = store
        self.sel = selectors.DefaultSelector()
        self.lsock = socket.create_server(("127.0.0.1", 0))
        self.lsock.setblocking(False)
        self.sel.register(self.lsock, selectors.EVENT_READ)
        self.conns: dict[int, Conn] = {}
        self.stats = {
            "commands": 0, "round_trips": 0, "request_bytes": 0,
            "reply_bytes": 0, "busy_s": 0.0, "connections": 0,
            "max_open": 0, "sets": 0, "set_crc": 0,
        }
        self.recording = False
        self.log: list[tuple[bytes, int]] = []

    @property
    def port(self) -> int:
        return self.lsock.getsockname()[1]

    def open_data_conns(self) -> int:
        return sum(1 for c in self.conns.values() if not c.control)

    def run(self) -> None:
        parent = os.getppid()
        while True:
            events = self.sel.select(timeout=0.5)
            if not events and os.getppid() != parent:
                return  # the benchmark process is gone
            for key, mask in events:
                if key.fileobj is self.lsock:
                    self.accept()
                    continue
                conn = key.data
                t0 = time.perf_counter()
                if mask & selectors.EVENT_READ:
                    self.on_read(conn)
                if mask & selectors.EVENT_WRITE and conn.sock.fileno() >= 0:
                    self.flush(conn)
                if not conn.control:
                    self.stats["busy_s"] += time.perf_counter() - t0

    def accept(self) -> None:
        sock, _ = self.lsock.accept()
        sock.setblocking(False)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn = Conn(sock)
        self.conns[sock.fileno()] = conn
        self.sel.register(sock, selectors.EVENT_READ, conn)
        self.stats["connections"] += 1
        self.stats["max_open"] = max(self.stats["max_open"], self.open_data_conns())

    def close(self, conn: Conn) -> None:
        self.sel.unregister(conn.sock)
        self.conns.pop(conn.sock.fileno(), None)
        conn.sock.close()

    def on_read(self, conn: Conn) -> None:
        try:
            chunk = conn.sock.recv(1 << 20)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            chunk = b""
        if not chunk:
            self.close(conn)
            return
        # A round trip starts with the first bytes that arrive while
        # every earlier request is answered and flushed.
        new_trip = not conn.in_trip
        conn.in_trip = True
        buf = conn.inbuf + chunk
        try:
            cmds, pos = frame(buf, 0)
        except ValueError:
            self.close(conn)
            return
        conn.inbuf = buf[pos:]
        out = b"".join([self.dispatch(conn, cmd) for cmd in cmds])
        if not conn.control:
            st = self.stats
            st["request_bytes"] += len(chunk)
            st["round_trips"] += new_trip
            st["commands"] += len(cmds)
            st["reply_bytes"] += len(out)
            if self.recording:
                if new_trip or not self.log:
                    self.log.append((buf[:pos], len(out)))
                else:
                    req, n = self.log[-1]
                    self.log[-1] = (req + buf[:pos], n + len(out))
        conn.out += out
        self.flush(conn)

    def flush(self, conn: Conn) -> None:
        try:
            sent = conn.sock.send(conn.out) if conn.out else 0
        except (BlockingIOError, InterruptedError):
            sent = 0
        except OSError:
            self.close(conn)
            return
        conn.out = conn.out[sent:]
        if not conn.out and not conn.inbuf:
            conn.in_trip = False
        events = selectors.EVENT_READ | (selectors.EVENT_WRITE if conn.out else 0)
        self.sel.modify(conn.sock, events, conn)

    def dispatch(self, conn: Conn, cmd: list[bytes]) -> bytes:
        name = cmd[0].upper()
        st = self.store
        if name == b"MGET":
            strings = st.strings
            return b"*%d\r\n" % (len(cmd) - 1) + b"".join(
                strings.get(k, NIL) for k in cmd[1:]
            )
        if name == b"HGETALL":
            n, body = st.hashes.get(cmd[1], (0, b""))
            return (b"%%%d\r\n" if conn.proto == 3 else b"*%d\r\n") % (
                n if conn.proto == 3 else 2 * n
            ) + body
        if name == b"SET":
            key, val = cmd[1], cmd[2]
            st.strings[key] = bulk(val)
            if not conn.control:
                self.stats["sets"] += 1
                self.stats["set_crc"] += zlib.crc32(key + b"=" + val)
            return OK
        if name == b"GET":
            return st.strings.get(cmd[1], NIL)
        if name == b"SCAN":
            return st.scan(cmd)
        if name == b"PING":
            return b"+PONG\r\n"
        if name == b"HELLO":
            proto = int(cmd[1]) if len(cmd) > 1 else conn.proto
            if proto not in (2, 3):
                return b"-NOPROTO unsupported protocol version\r\n"
            conn.proto = proto
            fields = [b"server", b"replay", b"version", b"7.0.0"]
            body = b"".join(bulk(f) for f in fields) + bulk(b"proto") + b":%d\r\n" % proto
            return (b"%3\r\n" if proto == 3 else b"*6\r\n") + body
        if name == b"BENCH.CTL":
            if not conn.control:
                conn.control = True
                self.stats["connections"] -= 1
            return OK
        if conn.control:
            return self.control(cmd)
        return error(f"unknown command '{cmd[0].decode(errors='replace')}'")

    def control(self, cmd: list[bytes]) -> bytes:
        name = cmd[0].upper()
        if name == b"BENCH.STATS":
            snap = dict(self.stats, open=self.open_data_conns())
            return bulk(json.dumps(snap).encode())
        if name == b"BENCH.PEAK":
            # peak open data connections since the last BENCH.PEAK
            peak, self.stats["max_open"] = self.stats["max_open"], self.open_data_conns()
            return b":%d\r\n" % peak
        if name == b"BENCH.RECORD":
            self.recording = cmd[1] == b"1"
            self.log = [] if self.recording else self.log
            return OK
        if name == b"BENCH.DUMP":
            with open(cmd[1].decode(), "wb") as f:
                for req, n in self.log:
                    f.write(struct.pack("<II", len(req), n) + req)
            self.log = []
            return OK
        return error("unknown control command")


def encode(*args) -> bytes:
    parts = [a if isinstance(a, bytes) else str(a).encode() for a in args]
    return b"*%d\r\n" % len(parts) + b"".join(bulk(a) for a in parts)


class Control:
    """Client side of a control connection, for the benchmark process."""

    def __init__(self, port: int) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.file = self.sock.makefile("rb")
        self.call("BENCH.CTL")

    def call(self, *args):
        self.sock.sendall(encode(*args))
        line = self.file.readline()[:-2]
        tag, rest = line[:1], line[1:]
        if tag == b"$":
            return self.file.read(int(rest) + 2)[:-2]
        if tag == b":":
            return int(rest)
        if tag == b"-":
            raise RuntimeError(rest.decode())
        return rest.decode()

    def stats(self) -> dict:
        return json.loads(self.call("BENCH.STATS"))

    def close(self) -> None:
        self.file.close()
        self.sock.close()


def replay_drain(port: int, log_path: str) -> float:
    """Send each recorded round trip's request bytes on a raw socket and
    read back exactly the recorded reply size without parsing it: the
    floor under any client's read of the same replies.  Returns seconds."""
    trips = []
    with open(log_path, "rb") as f:
        while head := f.read(8):
            n_req, n_rep = struct.unpack("<II", head)
            trips.append((f.read(n_req), n_rep))
    with socket.create_connection(("127.0.0.1", port), timeout=30) as sock:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        buf = bytearray(1 << 16)
        t0 = time.perf_counter()
        for req, n in trips:
            sock.sendall(req)
            while n > 0:
                got = sock.recv_into(buf)
                if not got:
                    raise ConnectionError("replay server closed the connection")
                n -= got
        return time.perf_counter() - t0


def main(argv: list[str]) -> None:
    paths = [a for a in argv if not a.startswith("--")]
    server = Server(Store(paths, "--corrupt" in argv))

    def stop(*_):
        raise SystemExit(0)  # at once, not at the next select timeout

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    print(f"READY {server.port}", flush=True)
    server.run()


if __name__ == "__main__":
    main(sys.argv[1:])
