"""Unit tests for the pure-Python RESP transport (no Spark)."""

from __future__ import annotations

import socketserver
import threading

import pytest

from duckdb_redis_olap_scanner_spark.transport.resp import (
    RedisClient,
    RespError,
    RespProtocolError,
    _parse,
    _SocketReader,
    encode_command,
    parse_host_port,
    raise_nested,
)


def test_encode_command():
    assert (
        encode_command("SCAN", "0", "MATCH", "p:*", "COUNT", 2048)
        == b"*6\r\n$4\r\nSCAN\r\n$1\r\n0\r\n$5\r\nMATCH\r\n$3\r\np:*\r\n$5\r\nCOUNT\r\n$4\r\n2048\r\n"
    )


def test_parse_host_port():
    assert parse_host_port("127.0.0.1:6379") == ("127.0.0.1", 6379)
    assert parse_host_port("myhost:10") == ("myhost", 10)
    for bad in [
        "127.0.0.1", ":6379", "host:", None,
        "h:+6379", "h: 6379", "h:6_379", "h:\uff16\uff13\uff17\uff19",
        "h:0", "h:-1", "h:99999",
    ]:
        with pytest.raises(ValueError):
            parse_host_port(bad)


def test_ping_get_mget(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        assert c.ping()
        assert c.get("testkey:0001") == "value:0001"
        # Missing key is SQL NULL, not "" (documented deviation from the
        # reference's empty-string quirk, redis_client.cpp:232-236).
        assert c.get("missing-key") is None
        assert c.mget(["testkey:0002", "missing", "testkey:0003"]) == [
            "value:0002",
            None,
            "value:0003",
        ]


def test_scan_batching_and_glob(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        # Small COUNT forces multiple cursor round trips.
        keys = [k for batch in c.scan_iter("testkey:*", count=3) for k in batch]
        assert sorted(keys) == [f"testkey:{i:04d}" for i in range(1, 11)]
        # Glob '?' single-char wildcard.
        keys = [k for b in c.scan_iter("testkey:000?", count=100) for k in b]
        assert sorted(keys) == [f"testkey:{i:04d}" for i in range(1, 10)]
        # Non-matching pattern → empty, loop still terminates.
        assert [k for b in c.scan_iter("zzz:*") for k in b] == []


@pytest.mark.parametrize("protocol", [2, 3])
def test_hgetall(redis_server, protocol):
    """Same dict surface over both wire forms: RESP2 flat field/value
    arrays and the RESP3 % map replies HELLO 3 switches on."""
    with RedisClient(
        redis_server.host, redis_server.port, protocol=protocol
    ) as c:
        assert c.negotiated_protocol == protocol
        assert c.hgetall("user:1001") == {"name": "ada", "age": "36"}
        assert c.hgetall("no-such-hash") == {}
        maps = c.hgetall_pipelined(["user:1001", "user:1002", "nope"])
        assert maps[1] == {"name": "grace", "city": "nyc"}
        assert maps[2] == {}


def test_hello_wire_shape(redis_server):
    """The protocol switch is observable on the wire: HGETALL comes
    back as a dict from _parse only when this connection sent HELLO 3
    (per-connection state, as in real Redis)."""
    with RedisClient(redis_server.host, redis_server.port) as c2, RedisClient(
        redis_server.host, redis_server.port, protocol=3
    ) as c3:
        assert c2.negotiated_protocol == 2
        assert c3.negotiated_protocol == 3
        # raw replies, pre-normalization: array vs map
        assert isinstance(c2.command("HGETALL", "user:1001"), list)
        assert isinstance(c3.command("HGETALL", "user:1001"), dict)
        info = c3.command("HELLO")
        assert info["proto"] == 3


def test_hello_unsupported_protocol_version(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        with pytest.raises(RespError):
            c.command("HELLO", 4)


def test_resp3_falls_back_on_resp2_only_server():
    """A server without HELLO (pre-6.0) answers it with an error; the
    client must degrade to RESP2 instead of failing to connect."""
    import socketserver
    import threading

    from duckdb_redis_olap_scanner_spark.transport.resp import _SocketReader

    class Resp2Only(socketserver.BaseRequestHandler):
        def handle(self):
            reader = _SocketReader(self.request)
            while True:
                try:
                    line = reader.read_line()
                except Exception:
                    return
                n = int(line[1:])
                args = []
                for _ in range(n):
                    hdr = reader.read_line()
                    args.append(
                        reader.read_exact(int(hdr[1:])).decode()
                    )
                cmd = args[0].upper()
                if cmd == "PING":
                    self.request.sendall(b"+PONG\r\n")
                else:
                    self.request.sendall(
                        b"-ERR unknown command '" + cmd.encode() + b"'\r\n"
                    )

    class Srv(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    srv = Srv(("127.0.0.1", 0), Resp2Only)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        host, port = srv.server_address
        with RedisClient(host, port, protocol=3) as c:
            assert c.negotiated_protocol == 2
            assert c.ping()
    finally:
        srv.shutdown()


def test_error_reply(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        with pytest.raises(RespError):
            c.command("NOSUCHCOMMAND")


def test_resp3_parse_branches():
    """Direct wire-bytes coverage for the RESP3 tag set (double, bool,
    big number, null, verbatim, set, map, push) — branches a RESP2-only
    server never produces."""
    from duckdb_redis_olap_scanner_spark.transport.resp import _parse, _SocketReader

    class OneShot:
        def __init__(self, data: bytes) -> None:
            self.data = data

        def recv(self, _n: int) -> bytes:
            d, self.data = self.data, b""
            return d

    def parse(wire: bytes):
        return _parse(_SocketReader(OneShot(wire)))

    assert parse(b",3.25\r\n") == 3.25
    assert parse(b"#t\r\n") is True
    assert parse(b"#f\r\n") is False
    assert parse(b"(12345678901234567890123\r\n") == 12345678901234567890123
    assert parse(b"_\r\n") is None
    assert parse(b"=8\r\ntxt:abcd\r\n") == b"abcd"
    assert parse(b"~2\r\n:1\r\n:2\r\n") == [1, 2]
    assert parse(b">2\r\n+pub\r\n:7\r\n") == ["pub", 7]
    assert parse(b"%2\r\n$1\r\na\r\n:1\r\n$1\r\nb\r\n:2\r\n") == {"a": 1, "b": 2}
    # attribute: metadata map consumed, following reply returned
    assert parse(
        b"|1\r\n$7\r\nkey-pop\r\n,0.5\r\n*2\r\n:1\r\n:2\r\n"
    ) == [1, 2]
    assert parse(b"|0\r\n:7\r\n") == 7
    assert parse(b"$-1\r\n") is None
    assert parse(b"*-1\r\n") is None


class _OneShot:
    """A socket whose whole byte stream arrives in one recv()."""

    def __init__(self, data: bytes) -> None:
        self.data = data

    def recv(self, _n: int) -> bytes:
        d, self.data = self.data, b""
        return d


@pytest.mark.parametrize(
    "wire",
    [
        b"$-5\r\nhello\r\n",  # negative bulk length other than -1
        b"*-2\r\n:1\r\n",  # negative array length other than -1
        b"=-3\r\n",
        b"%-1\r\n",  # maps have no null form
        b"$abc\r\n",  # non-digit length
        b"*+1\r\n:1\r\n",
        b"$ 5\r\nhello\r\n",
        b"$5\r\nhelloXY",  # payload not followed by CRLF
        b"*1\r\n$2\r\nabc\r\n",
    ],
    ids=[
        "negative_bulk", "negative_array", "negative_verbatim", "null_map",
        "non_digit", "plus_sign", "space", "no_crlf", "length_short_of_payload",
    ],
)
def test_parse_rejects_bad_length_prefixes(wire):
    with pytest.raises(RespProtocolError):
        _parse(_SocketReader(_OneShot(wire)))


class _FaultyServer(socketserver.ThreadingTCPServer):
    """Answers PING with PONG, GET with ``get_reply(conn)`` (``conn``
    numbers the connections from 0) and anything else with a complete
    ``-ERR`` reply, so a test can cut off or garble one connection's
    replies."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, get_reply) -> None:
        self.get_reply = get_reply
        self.connections = 0
        super().__init__(("127.0.0.1", 0), _FaultyHandler)
        threading.Thread(target=self.serve_forever, daemon=True).start()

    def __enter__(self) -> "_FaultyServer":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
        self.server_close()


class _FaultyHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        conn = self.server.connections
        self.server.connections += 1
        reader = _SocketReader(self.request)
        while True:
            try:
                args = _parse(reader)
            except (RespProtocolError, OSError):
                return
            name = args[0].upper()
            if name == b"PING":
                reply = b"+PONG\r\n"
            elif name == b"GET":
                reply = self.server.get_reply(conn)
            else:
                reply = b"-ERR unknown command\r\n"
            self.request.sendall(reply)


@pytest.mark.parametrize(
    "cut",
    [b"$5\r\nhel", b"$-5\r\nhello\r\n"],
    ids=["stalled_mid_payload", "malformed_length"],
)
def test_cut_off_reply_closes_the_client(cut):
    """A reply cut off mid-way leaves unread bytes on the connection;
    the client must drop it, so the next call reconnects instead of
    parsing the stale bytes as its reply."""
    ok = b"$5\r\nvalue\r\n"
    with _FaultyServer(lambda conn: cut if conn == 0 else ok) as srv:
        host, port = srv.server_address
        with RedisClient(host, port, timeout=0.3) as c:
            with pytest.raises((RespProtocolError, OSError)):
                c.get("k")
            assert c.get("k") == "value"
            assert c.pipeline([("GET", "k")]) == [b"value"]
        assert srv.connections == 2


def test_error_reply_keeps_the_connection():
    with _FaultyServer(lambda conn: b"$5\r\nvalue\r\n") as srv:
        host, port = srv.server_address
        with RedisClient(host, port) as c:
            with pytest.raises(RespError):
                c.command("NOSUCHCOMMAND")
            err, val = c.pipeline([("NOSUCHCOMMAND",), ("GET", "k")])
            assert isinstance(err, RespError) and val == b"value"
            assert c.get("k") == "value"
        assert srv.connections == 1


def test_nested_error_keeps_the_stream_in_step():
    """An error element inside an array is one element of the reply:
    the rest of the array is read with it, so the next command gets
    its own reply, not the array's tail."""
    nested = b"*3\r\n:1\r\n-ERR boom\r\n:3\r\n"
    with _FaultyServer(lambda conn: nested) as srv:
        host, port = srv.server_address
        with RedisClient(host, port) as c:
            (reply,) = c.pipeline([("GET", "k")])
            assert c.command("PING") == "PONG"
            one, err, three = reply
            assert (one, three) == (1, 3)
            assert isinstance(err, RespError) and str(err) == "ERR boom"
            # Only a top-level error raises from command().
            assert c.command("GET", "k")[2] == 3
            assert c.command("PING") == "PONG"
            with pytest.raises(RespError, match="boom"):
                raise_nested(c.command("GET", "k"))
            assert c.command("PING") == "PONG"
        assert srv.connections == 1


def test_parse_keeps_nested_errors_in_their_slots():
    def parse(wire: bytes):
        return _parse(_SocketReader(_OneShot(wire)))

    with pytest.raises(RespError, match="top"):
        parse(b"-ERR top\r\n")
    got = parse(b"*2\r\n*2\r\n-ERR deep\r\n:1\r\n:2\r\n")
    assert isinstance(got[0][0], RespError) and got[0][1:] == [1]
    assert got[1] == 2
    got = parse(b"%1\r\n$1\r\nf\r\n-ERR v\r\n")
    assert isinstance(got["f"], RespError)
    with pytest.raises(RespError, match="deep"):
        raise_nested([1, [2, {"f": RespError("ERR deep")}]])
    assert raise_nested([1, [b"a"], {"f": b"v"}]) == [1, [b"a"], {"f": b"v"}]
    assert raise_nested(b"x") == b"x" and raise_nested(None) is None


def test_readers_refuse_nested_errors(monkeypatch):
    """Callers that read a container reply as data raise its error
    element instead of returning it as a key, field or value."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _cluster_masters,
    )

    err = RespError("ERR boom")
    c = RedisClient("127.0.0.1", 1)  # never connects: replies are scripted
    monkeypatch.setattr(c, "pipeline", lambda cmds: [[b"f", err]])
    with pytest.raises(RespError, match="boom"):
        c.hgetall_pipelined(["h"])
    monkeypatch.setattr(c, "command", lambda *a: [b"0", [b"k", err]])
    with pytest.raises(RespError, match="boom"):
        list(c.scan_iter())
    with pytest.raises(RespError, match="boom"):
        list(c.scan_iter(raw=True))
    monkeypatch.setattr(c, "command", lambda *a: [b"f", err])
    with pytest.raises(RespError, match="boom"):
        c.hgetall("h")
    monkeypatch.setattr(
        c, "command", lambda *a: [[0, 16383, [b"10.0.0.1", err, b"id"]]]
    )
    with pytest.raises(RespError, match="boom"):
        _cluster_masters(c, "10.0.0.1")
