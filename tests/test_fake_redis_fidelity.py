"""Adversarial fidelity audit of the in-repo fake Redis (testing.py)
against the PUBLIC Redis command docs — VERDICT r15 "Next round" #5.

Every redis catalog entry is verified against the fake, so a fake bug
is a systematic blind spot the oracle gate cannot see. The r16 audit
found 14 divergences and pinned each as a strict xfail asserting the
REAL server's documented behavior; the r17 fidelity fixes landed in
testing.py and flipped every pin to a plain passing test — this file
now guards the fixed behavior against regression. (None of the
divergences had corrupted a verified entry: each was checked against
the engine's actual call sites before the fixes were scheduled — the
engine never sends SET options, odd HSET pairs, incomplete XRANGE ids,
SCAN TYPE, ZRANGE REV, or COUNT<=0, and the scan pushdown re-verifies
every filter Spark-side, so glob over/under-match cannot yield wrong
rows.)

Divergences that are DESIGN CHOICES, not bugs (documented in
testing.py, re-affirmed by this audit, no pin needed): snapshot SCAN
(within the public SCAN guarantee — elements present throughout are
returned exactly once; removed elements MAY be returned), static TTL
(no wall-clock decay), deterministic XADD '*' ids (last+1, not server
time — the stream source never compares ids to wall clock), stand-in
slot numbers in -MOVED/-ASK (clients parse but never interpret the
slot), and RESP2-only inline-command rejection.
"""

from __future__ import annotations

import socket

import pytest

from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer
from duckdb_redis_olap_scanner_spark.transport.resp import (
    RedisClient,
    RespError,
)

# bulk-string replies decode to bytes; normalize for compares so each
# pin flips cleanly to XPASS once its fake fix lands
from .conftest import as_str as _s

@pytest.fixture()
def srv():
    with FakeRedisServer() as s:
        yield s


@pytest.fixture()
def cli(srv):
    c = RedisClient(srv.host, srv.port)
    c.connect()
    yield c
    c.close()


def test_del_then_set_does_not_resurrect_ttl(srv, cli):
    """DEL destroys the key's TTL with the key; a later SET of the
    same name creates a FRESH key with no TTL (real: TTL -> -1). The
    fake keeps store.ttls across DEL, so the old TTL reappears."""
    srv.seed_strings({"k": "v"})
    srv.seed_ttls({"k": 100})
    assert cli.command("TTL", "k") == 100
    assert cli.command("DEL", "k") == 1
    assert cli.command("SET", "k", "v2") == "OK"
    assert cli.command("TTL", "k") == -1


def test_set_clears_existing_ttl(srv, cli):
    """Plain SET (no KEEPTTL) removes any TTL the key had — the
    documented SET semantic since 2.x."""
    srv.seed_strings({"k": "v"})
    srv.seed_ttls({"k": 100})
    assert cli.command("SET", "k", "v2") == "OK"
    assert cli.command("TTL", "k") == -1


def test_hset_odd_field_value_args_error(cli):
    """HSET with a dangling field (no value) is a wrong-arity error in
    real Redis; the fake's zip silently drops the dangling field and
    acks the malformed write."""
    with pytest.raises(RespError):
        cli.command("HSET", "h", "f1", "v1", "f2")


def test_container_writes_on_wrong_type_are_wrongtype(srv, cli):
    """HSET/ZADD/RPUSH/XADD against an existing key of another type
    answer -WRONGTYPE in real Redis. The fake's per-type dicts happily
    fork the key into two types (and TYPE then reports whichever dict
    is checked first)."""
    srv.seed_strings({"s": "v"})
    for c in (
        ("HSET", "s", "f", "v"),
        ("ZADD", "s", "1", "m"),
        ("RPUSH", "s", "x"),
        ("XADD", "s", "1-1", "f", "v"),
    ):
        with pytest.raises(RespError, match="WRONGTYPE"):
            cli.command(*c)


def test_container_reads_on_wrong_type_are_wrongtype(srv, cli):
    """HGETALL/ZRANGE/LRANGE/XRANGE/ZCARD/LLEN/XLEN against a string
    key are -WRONGTYPE in real Redis; the fake returns empty results,
    which a buggy reader could mistake for an empty container."""
    srv.seed_strings({"s": "v"})
    for c in (
        ("HGETALL", "s"),
        ("ZRANGE", "s", "0", "-1"),
        ("LRANGE", "s", "0", "-1"),
        ("XRANGE", "s", "-", "+"),
        ("ZCARD", "s"),
        ("LLEN", "s"),
        ("XLEN", "s"),
    ):
        with pytest.raises(RespError, match="WRONGTYPE"):
            cli.command(*c)


def test_xrange_incomplete_end_id_seq_defaults_to_max(cli):
    """XRANGE with an ms-only END id means 'through the LAST seq of
    that ms' (seq defaults to max for end, 0 for start — the documented
    incomplete-id rule). The fake parses both ends with seq 0, so
    'XRANGE s 5 5' silently drops 5-1..5-n. Latent for the stream
    source (it always pages with full ms-seq checkpoint ids) but wrong
    for any direct user."""
    for i in range(3):
        cli.command("XADD", "s", f"5-{i}", "f", "v")
    assert len(cli.command("XRANGE", "s", "5", "5")) == 3


def test_scan_count_zero_is_syntax_error(cli):
    """Real SCAN rejects COUNT <= 0 with a syntax error; the fake
    serves an empty page with an UNCHANGED cursor — an infinite loop
    for any well-behaved paging client."""
    with pytest.raises(RespError):
        cli.command("SCAN", "0", "COUNT", "0")


def test_scan_type_option_filters(srv, cli):
    """SCAN's TYPE option (Redis 6.0+) filters by value type; the fake
    silently IGNORES unknown option pairs, returning keys of every
    type — over-matching that a type-sensitive reader would trust."""
    srv.seed_strings({"str:1": "v"})
    srv.seed_hashes({"hash:1": {"f": "v"}})
    cursor, keys = cli.command("SCAN", "0", "TYPE", "string", "COUNT", "100")
    # bulk strings decode to bytes — normalize so this pin can flip
    # to XPASS when the fake learns TYPE (review r16)
    assert [_s(k) for k in keys] == ["str:1"]


def test_hello_bad_version_is_noproto(srv):
    """HELLO with an unsupported version answers -NOPROTO in real
    Redis (clients key fallback logic off that prefix); the fake
    answers a generic -ERR."""
    raw = socket.create_connection((srv.host, srv.port))
    try:
        raw.sendall(b"*2\r\n$5\r\nHELLO\r\n$1\r\n4\r\n")
        reply = raw.recv(256)
    finally:
        raw.close()
    assert reply.startswith(b"-NOPROTO"), reply


def test_error_replies_are_not_double_prefixed(cli):
    """The fake's dispatch encodes raised ValueError('ERR ...') via
    _encode(Exception), which prepends ANOTHER 'ERR ' — so XADD's
    non-increasing-id error goes out as '-ERR ERR The ID ...'. Real
    error lines carry exactly one code."""
    cli.command("XADD", "s", "5-1", "f", "v")
    with pytest.raises(RespError) as ei:
        cli.command("XADD", "s", "5-1", "f", "v")
    assert not str(ei.value).startswith("ERR ERR"), str(ei.value)


def test_error_code_detection_is_a_whitelist():
    """_encode's already-coded check must not treat ANY all-caps first
    word as an error class: a raise like ValueError('XADD requires
    ...') would otherwise go out as the invented '-XADD' error class
    instead of '-ERR XADD requires ...' (ADVICE r17). Known codes
    still pass through un-prefixed, exactly once."""
    from duckdb_redis_olap_scanner_spark.testing import _encode

    assert _encode(ValueError("XADD requires an id")) == (
        b"-ERR XADD requires an id\r\n"
    )
    assert _encode(ValueError("GET wants 1 argument")) == (
        b"-ERR GET wants 1 argument\r\n"
    )
    # real codes: exactly one prefix, verbatim
    assert _encode(ValueError("ERR syntax error")) == b"-ERR syntax error\r\n"
    assert _encode(ValueError(
        "WRONGTYPE Operation against a key holding the wrong kind of value"
    )).startswith(b"-WRONGTYPE Operation")
    assert _encode(ValueError("MOVED 866 127.0.0.1:7001")) == (
        b"-MOVED 866 127.0.0.1:7001\r\n"
    )
    assert _encode(ValueError("NOPROTO unsupported protocol version")) == (
        b"-NOPROTO unsupported protocol version\r\n"
    )


def test_resp3_null_is_underscore(srv):
    """After HELLO 3, real Redis encodes nulls as the RESP3 null
    ('_\\r\\n'), not the RESP2 null bulk ('$-1'). The engine's parser
    accepts both (so this is latent for every entry), but the fake
    claiming proto 3 while emitting RESP2 nulls means the parser's
    RESP3-null path is never exercised against the fake."""
    raw = socket.create_connection((srv.host, srv.port))
    try:
        raw.sendall(b"*2\r\n$5\r\nHELLO\r\n$1\r\n3\r\n")
        raw.recv(4096)  # the hello map
        raw.sendall(b"*2\r\n$3\r\nGET\r\n$7\r\nmissing\r\n")
        reply = raw.recv(64)
    finally:
        raw.close()
    assert reply == b"_\r\n", reply


def test_expire_nonpositive_deletes_key(srv, cli):
    """EXPIRE with a non-positive timeout deletes the key outright
    (documented since 2.1.3); the fake stores the negative TTL and
    keeps the key."""
    srv.seed_strings({"k": "v"})
    assert cli.command("EXPIRE", "k", "-1") == 1
    assert cli.command("GET", "k") is None


def test_zrange_rev_is_honored_not_ignored(srv, cli):
    """ZRANGE's REV flag (6.2+) reverses the traversal; the fake scans
    args[3:] only for WITHSCORES and silently ignores REV, returning
    ASCENDING order — silently-wrong data for any caller that sends
    it."""
    srv.seed_zset("z", {"a": 1.0, "b": 2.0, "c": 3.0})
    got = cli.command("ZRANGE", "z", "0", "-1", "REV")
    assert [_s(m) for m in got] == ["c", "b", "a"]


def test_ping_with_message_echoes(cli):
    """PING with an argument echoes it as a bulk string; the fake
    answers +PONG regardless."""
    assert _s(cli.command("PING", "hello")) == "hello"


def test_container_write_arity_creates_no_phantom_key(srv, cli):
    """ZADD/RPUSH/XADD with missing member/value args are
    wrong-number-of-arguments errors in real Redis and must NOT
    create an empty key (r17 review: the fake's setdefault ran before
    any arity check, so 'ZADD z' left a phantom zset visible to TYPE,
    SCAN TYPE, EXPIRE, and DBSIZE)."""
    for c in (
        ("ZADD", "pz"),
        ("ZADD", "pz", "1"),           # dangling score
        ("RPUSH", "pl"),
        ("XADD", "px", "1-1"),         # no field/value pair
        ("XADD", "px", "1-1", "f"),    # dangling field
    ):
        with pytest.raises(RespError, match="wrong number"):
            cli.command(*c)
    for k in ("pz", "pl", "px"):
        assert _s(cli.command("TYPE", k)) == "none"
    assert cli.command("DBSIZE") == 0


def test_binary_keys_fields_and_values_round_trip(cli):
    """A key, field or value that is not UTF-8 is stored and returned
    byte for byte, as by real Redis: the fake no longer drops the
    connection on such a command argument."""
    key = b"k:\xff\xfe"
    assert cli.command("SET", key, b"v\xff\x00") == "OK"
    assert cli.command("GET", key) == b"v\xff\x00"
    assert cli.command("MGET", key, b"k:none") == [b"v\xff\x00", None]
    scanned = [k for page in cli.scan_iter("k:*", raw=True) for k in page]
    assert scanned == [key]
    assert cli.command("DEL", key) == 1
    assert cli.command("HSET", key, b"f\x80", b"\xfe", "g", "w") == 2
    assert cli.command("HGETALL", key) == [b"f\x80", b"\xfe", b"g", b"w"]
    assert cli.command("TYPE", key) == "hash"
