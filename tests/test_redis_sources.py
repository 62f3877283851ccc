"""Golden-parity tests with the reference's own test file
(/root/reference/test/sql/scan.test) plus the documented-but-
unimplemented surface (redis_kv, redis_hgetall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark import Engine
from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer


def test_scan_count_golden(engine):
    # scan.test:19-22 — SELECT COUNT(*) FROM redis_scan('testkey:*') == 10
    assert engine.redis_scan("testkey:*").count() == 10


def test_scan_sorted_limit_golden(engine):
    # scan.test:24-29 — first 3 keys in sorted order
    rows = (
        engine.redis_scan("testkey:*")
        .orderBy("key_name")
        .limit(3)
        .collect()
    )
    assert [r.key_name for r in rows] == [
        "testkey:0001",
        "testkey:0002",
        "testkey:0003",
    ]


def test_scan_match_filters_serverside(engine):
    assert engine.redis_scan("other:*").count() == 2
    assert engine.redis_scan("nomatch:*").count() == 0


def test_scan_small_count_multi_roundtrip(engine):
    # COUNT 3 forces multiple SCAN cursor round trips; results identical.
    df = engine.redis_scan("testkey:*", count=3)
    assert df.count() == 10


def test_scan_sharded_parallel(engine):
    # Parallel scan via disjoint shard globs — two InputPartitions.
    df = engine.redis_scan(
        shard_patterns="testkey:*;other:*",
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 12


def test_kv_reader(engine):
    rows = engine.redis_kv("testkey:*").orderBy("key").collect()
    assert len(rows) == 10
    assert rows[0].key == "testkey:0001" and rows[0].value == "value:0001"


def test_hash_reader_maptype(engine):
    df = engine.redis_hash("user:*")
    rows = {r.key: r.value for r in df.collect()}
    assert rows["user:1001"] == {"name": "ada", "age": "36"}
    assert rows["user:1002"] == {"name": "grace", "city": "nyc"}
    # Map access via value['field'] — the STRUCT-access analogue.
    got = (
        df.select("key", F.col("value")["name"].alias("name"))
        .orderBy("key")
        .collect()
    )
    assert [r.name for r in got] == ["ada", "grace"]


def test_sql_over_scan(engine, spark):
    engine.redis_scan("testkey:*").createOrReplaceTempView("rscan")
    n = spark.sql("SELECT CAST(COUNT(*) AS INT) AS n FROM rscan").collect()[0].n
    assert n == 10


def test_connect_errors(engine):
    import pytest

    with pytest.raises(ValueError):
        engine.connect("no-port-here")
    with pytest.raises(ValueError):
        engine.connect(None)
    with pytest.raises(Exception):
        engine.connect("127.0.0.1:1")  # nothing listening


class TestFilterPushdown:
    def test_like_pushdown_end_to_end(self, engine):
        # The source pushes no filter: Spark applies LIKE 'testkey:%'
        # to the full scan, and the result must equal the
        # explicit-pattern scan (the 10 golden keys).
        df = engine.redis_scan("*").filter(F.col("key_name").like("testkey:%"))
        keys = sorted(r.key_name for r in df.collect())
        assert keys == [f"testkey:{i:04d}" for i in range(1, 11)]


# ---------------------------------------------------------------------------
# Shared reads: Engine returns one DataFrame per (format, options)
# ---------------------------------------------------------------------------


@pytest.fixture
def fresh(spark):
    """A private server (5 ``a:`` keys, 7 ``b:`` keys) and Engine, so
    the counts below do not depend on what other tests wrote."""
    with FakeRedisServer() as srv:
        srv.seed_strings({f"a:{i}": "v" for i in range(5)})
        srv.seed_strings({f"b:{i}": "v" for i in range(7)})
        eng = Engine(spark)
        eng.connect(srv.address)
        yield srv, eng


def test_like_then_unfiltered_on_one_dataframe(fresh):
    _, eng = fresh
    df = eng.redis_scan()
    assert df.filter(F.col("key_name").like("a:%")).count() == 5
    assert df.count() == 12


def test_like_then_unfiltered_on_temp_view(fresh, spark):
    _, eng = fresh
    eng.redis_scan().createOrReplaceTempView("shared_scan")
    like = "SELECT COUNT(*) AS n FROM shared_scan WHERE key_name LIKE 'a:%'"
    assert spark.sql(like).collect()[0].n == 5
    assert spark.sql("SELECT COUNT(*) AS n FROM shared_scan").collect()[0].n == 12


def test_reads_are_shared_per_format_and_options(fresh):
    srv, eng = fresh
    df = eng.redis_kv("a:*")
    assert eng.redis_kv("a:*") is df
    assert eng.redis_kv("b:*") is not df
    assert eng.redis_kv("a:*", count=3) is not df
    assert eng.redis_scan("a:*") is not df
    eng.connect(srv.address)
    assert eng.redis_kv("a:*") is not df


def test_shared_reads_drop_the_oldest_beyond_the_cap(fresh, monkeypatch):
    from duckdb_redis_olap_scanner_spark import engine as engine_mod

    _, eng = fresh
    monkeypatch.setattr(engine_mod, "MAX_SHARED_READS", 2)
    a, b, c = (eng.redis_kv(p) for p in ("a:*", "b:*", "c:*"))
    assert eng.redis_kv("b:*") is b and eng.redis_kv("c:*") is c
    assert eng.redis_kv("a:*") is not a


def test_shared_read_sees_new_keys(fresh):
    srv, eng = fresh
    assert eng.redis_kv("a:*").count() == 5
    srv.seed_strings({"a:new": "v"})
    assert eng.redis_kv("a:*").count() == 6


def test_cached_shared_read_serves_until_unpersist(fresh):
    srv, eng = fresh
    df = eng.redis_scan("a:*").cache()
    assert df.count() == 5
    srv.seed_strings({"a:new": "v"})
    assert eng.redis_scan("a:*").count() == 5  # served by the cache
    df.unpersist(blocking=True)
    assert eng.redis_scan("a:*").count() == 6


def test_cluster_and_stream_reads_are_not_shared(fresh):
    srv, eng = fresh
    srv.set_cluster_slots([(0, 16383, srv.host, srv.port)])
    df = eng.redis_scan("a:*", cluster_slots="true")
    assert eng.redis_scan("a:*", cluster_slots="true") is not df
    assert df.count() == 5
    assert eng.redis_stream("events") is not eng.redis_stream("events")


def test_reused_cluster_read_fails_after_reshard(spark):
    """Spark re-executes a DataFrame with the partitions it planned
    first. After a reshard those partitions filter keys by the old
    slot ownership, so a reused cluster read must fail, not return
    the keys of the slots that did not move; a fresh read plans from
    the new topology."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import key_slot

    with FakeRedisServer() as a, FakeRedisServer() as b:
        keys = [f"rs:{i:04d}" for i in range(40)]
        for k in keys:
            (a if key_slot(k) <= 8191 else b).seed_strings({k: "v"})
        for n in (a, b):
            n.set_cluster_slots(
                [(0, 8191, a.host, a.port), (8192, 16383, b.host, b.port)]
            )
        eng = Engine(spark)
        eng.connect(a.address)
        df = eng.redis_scan("rs:*", cluster_slots="true")
        assert df.count() == 40

        # reshard: every slot moves to a, with b's keys
        with b.store.lock:
            moved = dict(b.store.strings)
            b.store.strings.clear()
        a.seed_strings(moved)
        for n in (a, b):
            n.set_cluster_slots([(0, 16383, a.host, a.port)])

        with pytest.raises(Exception, match="RedisTopologyChanged"):
            df.count()
        assert eng.redis_scan("rs:*", cluster_slots="true").count() == 40


def test_kv_writer_roundtrip(spark, engine, redis_server):
    """df.write.format('redis_kv') pipelines SETs; reading the pattern
    back returns exactly the written pairs."""
    rows = [(f"wtest:{i:03d}", f"v{i}") for i in range(250)]
    df = spark.createDataFrame(rows, "key string, value string")
    (
        df.write.format("redis_kv")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .option("batch_size", 64)
        .mode("append")
        .save()
    )
    back = engine.redis_kv("wtest:*").collect()
    assert sorted((r.key, r.value) for r in back) == sorted(rows)


def test_hash_writer_roundtrip(spark, engine, redis_server):
    rows = [
        ("whash:001", {"name": "a", "size": "1"}),
        ("whash:002", {"name": "b"}),
    ]
    df = spark.createDataFrame(rows, "key string, value map<string,string>")
    (
        df.write.format("redis_hash")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .mode("append")
        .save()
    )
    back = {r.key: dict(r.value) for r in engine.redis_hash("whash:*").collect()}
    assert back == dict(rows)


def test_zset_source_reads_score_order(spark, engine):
    """ZRANGE order is ascending (score, member) with ranks attached —
    the golden fixture's distinct scores and a tied-score pair both
    land deterministically."""
    rows = engine.redis_zset("rank:global").collect()
    assert [r.member for r in rows] == [
        f"item:{i:04d}" for i in range(1, 11)
    ]
    assert [r.score for r in rows] == [float(i * 10) for i in range(1, 11)]
    assert [r.rank for r in rows] == list(range(10))


def test_zset_writer_roundtrip(spark, engine, redis_server):
    """df.write.format('redis_zset') pipelines ZADDs; reading back
    returns the members in (score, member) order — including a score
    tie broken by member, and a rewritten member keeping only its
    last score (set semantics, safe under partition parallelism)."""
    rows = [("zb", 2.0), ("za", 1.0), ("zc", 1.0), ("zb", 5.0)]
    df = spark.createDataFrame(rows, "member string, score double")
    (
        df.coalesce(1)  # deterministic last-writer for the zb rewrite
        .write.format("redis_zset")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .option("key", "wzset:test")
        .mode("append")
        .save()
    )
    back = engine.redis_zset("wzset:test").collect()
    assert [(r.member, r.score) for r in back] == [
        ("za", 1.0),
        ("zc", 1.0),
        ("zb", 5.0),
    ]


def test_list_source_preserves_insertion_order(spark, engine):
    rows = engine.redis_list("queue:jobs").collect()
    assert [(r.pos, r.element) for r in rows] == [
        (i - 1, f"job:{i:04d}") for i in range(1, 9)
    ]


def test_scan_sees_zset_and_list_keys(spark, engine):
    keys = {r.key_name for r in engine.redis_scan("*").collect()}
    assert "rank:global" in keys and "queue:jobs" in keys


def test_zset_reader_pages_large_container(redis_server):
    """A sorted set larger than one page streams as MULTIPLE
    RecordBatches (bounded worker memory — no ZRANGE 0 -1 buffering
    the whole container), with ranks continuous across slices and
    contents identical to a single-shot read."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisZSetReader,
        _SingleKeyPartition,
    )
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        args: list[str] = []
        for i in range(25):
            args += [str(float(i)), f"pm:{i:03d}"]
        c.command("ZADD", "pzset:test", *args)
    reader = RedisZSetReader(
        {"host": redis_server.host, "port": str(redis_server.port),
         "key": "pzset:test", "page_size": "10"}
    )
    part = _SingleKeyPartition(redis_server.host, redis_server.port, "pzset:test")
    batches = list(reader.read(part))
    assert [b.num_rows for b in batches] == [10, 10, 5]
    members = [m for b in batches for m in b.column("member").to_pylist()]
    ranks = [r for b in batches for r in b.column("rank").to_pylist()]
    assert members == [f"pm:{i:03d}" for i in range(25)]
    assert ranks == list(range(25))


def test_list_reader_pages_large_container(redis_server):
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisListReader,
        _SingleKeyPartition,
    )
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        c.command("RPUSH", "plist:test", *[f"el:{i:03d}" for i in range(23)])
    reader = RedisListReader(
        {"host": redis_server.host, "port": str(redis_server.port),
         "key": "plist:test", "page_size": "10"}
    )
    part = _SingleKeyPartition(redis_server.host, redis_server.port, "plist:test")
    batches = list(reader.read(part))
    assert [b.num_rows for b in batches] == [10, 10, 3]
    elems = [e for b in batches for e in b.column("element").to_pylist()]
    pos = [p for b in batches for p in b.column("pos").to_pylist()]
    assert elems == [f"el:{i:03d}" for i in range(23)]
    assert pos == list(range(23))


# ---------------------------------------------------------------------------
# Cluster-slot sharding (SURVEY §4.1's production scale path)
# ---------------------------------------------------------------------------


def test_key_slot_crc16_and_hashtags():
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _crc16_xmodem,
        key_slot,
    )

    # CRC16-CCITT/XMODEM reference vector.
    assert _crc16_xmodem(b"123456789") == 0x31C3
    assert key_slot("123456789") == 0x31C3 % 16384
    # Hashtag rule: only the first non-empty {tag} is hashed.
    assert key_slot("{user1000}.following") == key_slot("{user1000}.followers")
    assert key_slot("{user1000}.x") == key_slot("user1000")
    # Empty hashtag hashes the whole key.
    assert key_slot("{}x") != key_slot("")
    assert 0 <= key_slot("") < 16384


def test_cluster_slots_scan_covers_nodes_disjointly(spark):
    """Three fake nodes impersonating a cluster topology: keys live on
    exactly one node by slot ownership; the cluster_slots scan must
    return every key exactly once with one partition per master."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import key_slot
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    nodes = [FakeRedisServer().start() for _ in range(3)]
    try:
        ranges = [(0, 5460), (5461, 10922), (10923, 16383)]
        keys = [f"ck:{i:04d}" for i in range(60)]
        owned = [0, 0, 0]
        for k in keys:
            s = key_slot(k)
            for idx, (lo, hi) in enumerate(ranges):
                if lo <= s <= hi:
                    nodes[idx].seed_strings({k: f"v:{k}"})
                    owned[idx] += 1
        assert all(owned), owned  # every node holds some keys
        topo = [
            (lo, hi, n.host, n.port)
            for (lo, hi), n in zip(ranges, nodes)
        ]
        for n in nodes:  # every node of a cluster serves CLUSTER SLOTS
            n.set_cluster_slots(topo)
        df = (
            spark.read.format("redis_scan")
            .option("host", nodes[0].host)
            .option("port", str(nodes[0].port))
            .option("pattern", "ck:*")
            .option("cluster_slots", "true")
            .load()
        )
        assert df.rdd.getNumPartitions() == 3
        got = sorted(r.key_name for r in df.collect())
        assert got == sorted(keys)  # complete AND duplicate-free

        # redis_kv rides the same topology (values come from the
        # owning node's MGET).
        kv = (
            spark.read.format("redis_kv")
            .option("host", nodes[0].host)
            .option("port", str(nodes[0].port))
            .option("pattern", "ck:*")
            .option("cluster_slots", "true")
            .load()
        )
        rows = {r.key: r.value for r in kv.collect()}
        assert rows == {k: f"v:{k}" for k in keys}
    finally:
        for n in nodes:
            n.stop()


def test_cluster_slots_dedupes_multirange_masters():
    """A master owning several slot ranges appears once in the shard
    list — scanning it twice would duplicate every key it holds."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _cluster_nodes,
        _shards,
    )
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.set_cluster_slots(
            [
                (0, 100, a.host, a.port),
                (101, 200, b.host, b.port),
                (201, 16383, a.host, a.port),  # a again: second range
            ]
        )
        masters = _cluster_nodes(a.host, a.port)
        # one row per master, with ALL its owned ranges aggregated
        assert masters == [
            (a.host, a.port, ((0, 100), (201, 16383))),
            (b.host, b.port, ((101, 200),)),
        ]
        shards = _shards(
            {
                "host": a.host,
                "port": str(a.port),
                "cluster_slots": "true",
                "shard_patterns": "x:*;y:*",
            }
        )
        # nodes x patterns composition
        assert len(shards) == 4
        assert {(s.host, s.port, s.pattern) for s in shards} == {
            (a.host, a.port, "x:*"),
            (a.host, a.port, "y:*"),
            (b.host, b.port, "x:*"),
            (b.host, b.port, "y:*"),
        }


def test_cluster_slots_on_standalone_raises():
    import pytest

    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _cluster_nodes,
    )
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    with FakeRedisServer() as srv, pytest.raises(Exception):
        _cluster_nodes(srv.host, srv.port)


def test_writers_reject_null_keys_and_values(spark, redis_server):
    """Redis has no NULL string: a NULL column reaching a writer used
    to be stored as the literal string "None" (r14 bug-hunt — a
    redis_kv roundtrip of a NULL value corrupted exactly this way).
    Every writer now fails the task loudly, and encode_command is the
    transport-level backstop."""
    import pytest as _pytest

    from duckdb_redis_olap_scanner_spark.transport.resp import encode_command

    with _pytest.raises(TypeError, match="None"):
        encode_command("SET", "k", None)

    def _write(df, fmt, **opts):
        w = (df.write.format(fmt)
             .option("host", redis_server.host)
             .option("port", redis_server.port))
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode("append").save()

    kv_null_val = spark.createDataFrame(
        [("nkv:1", "ok"), ("nkv:2", None)], "key string, value string")
    with _pytest.raises(Exception, match="NULL value"):
        _write(kv_null_val, "redis_kv")
    kv_null_key = spark.createDataFrame(
        [(None, "v")], "key string, value string")
    with _pytest.raises(Exception, match="NULL key"):
        _write(kv_null_key, "redis_kv")

    hash_null = spark.createDataFrame(
        [("nh:1", {"f": None})], "key string, value map<string,string>")
    with _pytest.raises(Exception, match="NULL value for field"):
        _write(hash_null, "redis_hash")

    zset_null = spark.createDataFrame(
        [(None, 1.0)], "member string, score double")
    with _pytest.raises(Exception, match="NULL member"):
        _write(zset_null, "redis_zset", key="nz:1")

    # and the corrupted sentinel never landed
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        assert c.get("nkv:2") is None


def test_scan_owned_slots_binary_keys_on_raw_bytes():
    """Cluster slot filtering must hash the RAW key bytes: a lossy
    UTF-8 decode of a binary key re-encodes the replacement chars and
    lands on a different slot than the server used, silently dropping
    the row (review r14). The raw bytes are also what ``_scan_owned``
    yields, so the value fetch asks for the key the server holds; only
    the key column renders U+FFFD."""
    import pyarrow as pa

    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisScanReader,
        RedisShard,
        _scan_owned,
        key_slot,
    )

    raw_key = b"\x80abc"
    s_raw = key_slot(raw_key)
    s_decoded = key_slot(raw_key.decode("utf-8", "replace"))
    assert s_raw != s_decoded  # the decode really moves the slot

    class StubClient:
        def scan_iter(self, match="*", count=0, raw=False):
            assert raw, "scan-family reads must request raw key bytes"
            yield [raw_key, b"other"]

    part = RedisShard("h", 1, "*", 10, slot_ranges=((s_raw, s_raw),))
    got = [k for batch in _scan_owned(StubClient(), part) for k in batch]
    # the binary key survives (owner by raw-bytes slot) as its raw
    # bytes; 'other' is filtered unless it collides
    assert raw_key in got
    if key_slot(b"other") != s_raw:
        assert got == [raw_key]
    batch = RedisScanReader({})._batch(StubClient(), got)
    assert batch.schema.field("key_name").type == pa.string()
    assert "\ufffdabc" in batch.column("key_name").to_pylist()


@pytest.fixture
def binary_keyspace(spark):
    """A private server holding keys, a list element and a zset member
    that are not UTF-8, and an Engine connected to it."""
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with FakeRedisServer() as srv:
        with RedisClient(srv.host, srv.port) as c:
            c.command("SET", b"bk:\xff\xfe", "v1")
            c.command("SET", "bk:ok", "v2")
            c.command("HSET", b"bh:\xff\xfe", "f", "x", "g", b"y\xff")
            c.command("HSET", "bh:ok", "f", "z")
            c.command("RPUSH", "bl", "a", b"\xffb")
            c.command("ZADD", "bz", "1", b"m\xff", "2", "n")
        eng = Engine(spark)
        eng.connect(srv.address)
        yield eng


def test_kv_reads_the_value_of_a_binary_key(binary_keyspace):
    """The MGET asks for the key bytes SCAN returned, so a key that is
    not UTF-8 keeps its value; only the key column renders U+FFFD."""
    rows = {r.key: r.value for r in binary_keyspace.redis_kv("bk:*").collect()}
    assert rows == {"bk:\ufffd\ufffd": "v1", "bk:ok": "v2"}
    keys = {r.key_name for r in binary_keyspace.redis_scan("bk:*").collect()}
    assert keys == {"bk:\ufffd\ufffd", "bk:ok"}


def test_hash_reads_the_fields_of_a_binary_key(binary_keyspace):
    rows = {r.key: r.value for r in binary_keyspace.redis_hash("bh:*").collect()}
    assert rows == {
        "bh:\ufffd\ufffd": {"f": "x", "g": "y\ufffd"},
        "bh:ok": {"f": "z"},
    }


def test_container_readers_render_non_utf8_elements(binary_keyspace):
    """A list element or zset member that is not UTF-8 renders with
    U+FFFD instead of failing the task."""
    rows = binary_keyspace.redis_list("bl").collect()
    assert [(r.pos, r.element) for r in rows] == [(0, "a"), (1, "\ufffdb")]
    rows = binary_keyspace.redis_zset("bz").collect()
    assert [(r.member, r.score, r.rank) for r in rows] == [
        ("m\ufffd", 1.0, 0),
        ("n", 2.0, 1),
    ]


def test_hash_writer_rejects_null_key_even_with_empty_map(spark, redis_server):
    """A NULL key with an empty/NULL map is the same upstream
    corruption as a NULL key with fields — it must fail loudly, not
    be skipped (review r14)."""
    import pytest as _pytest

    for payload in ({}, None):
        df = spark.createDataFrame(
            [(None, payload)], "key string, value map<string,string>")
        with _pytest.raises(Exception, match="NULL key"):
            (df.write.format("redis_hash")
             .option("host", redis_server.host)
             .option("port", redis_server.port)
             .mode("append").save())


def _sink_cases():
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisHashWriter,
        RedisKVWriter,
        RedisZSetWriter,
    )
    from duckdb_redis_olap_scanner_spark.sources.redis_stream_source import (
        RedisStreamWriter,
    )
    from pyspark.sql import Row

    kv = [Row(key=f"k{i}", value=f"v{i}") for i in range(5)]
    # the empty map in the middle sends no HSET and takes no batch slot
    hashes = [Row(key=f"h{i}", value={"f": f"v{i}"}) for i in range(5)]
    hashes.insert(2, Row(key="h-empty", value={}))
    members = [Row(member=f"m{i}", score=float(i)) for i in range(5)]
    events = [Row(a=f"x{i}", b=None) for i in range(5)]
    return [
        pytest.param(
            RedisKVWriter, {}, kv,
            [("SET", r.key, r.value) for r in kv],
            [
                (Row(key=None, value="v"), "redis_kv write: NULL key — "
                 "filter or fill NULLs before writing"),
                (Row(key="k", value=None), "redis_kv write: NULL value for "
                 "key 'k' — filter or fill NULLs before writing"),
            ],
            id="kv",
        ),
        pytest.param(
            RedisHashWriter, {}, hashes,
            [("HSET", r.key, "f", r.value["f"]) for r in hashes if r.value],
            [
                (Row(key=None, value={}), "redis_hash write: NULL key — "
                 "filter or fill NULLs before writing"),
                (Row(key="k", value={None: "v"}), "redis_hash write: NULL "
                 "field in key 'k' — Redis hashes have no NULL; filter or "
                 "fill first"),
                (Row(key="k", value={"f": None}), "redis_hash write: NULL "
                 "value for field 'f' in key 'k' — Redis hashes have no "
                 "NULL; filter or fill first"),
            ],
            id="hash",
        ),
        pytest.param(
            RedisZSetWriter, {"key": "board"}, members,
            [("ZADD", "board", repr(r.score), r.member) for r in members],
            [
                (Row(member=None, score=1.0), "redis_zset write: NULL "
                 "member — filter or fill NULLs before writing"),
                (Row(member="m", score=None), "redis_zset write: NULL score "
                 "for member 'm' — filter or fill NULLs before writing"),
            ],
            id="zset",
        ),
        pytest.param(
            RedisStreamWriter, {"key": "ev"}, events,
            [("XADD", "ev", "*", "a", r.a) for r in events],
            [
                (Row(a=None, b=None), "redis_stream write: row with "
                 "all-NULL fields cannot become an XADD entry — filter or "
                 "fill NULLs before writing"),
            ],
            id="stream",
        ),
    ]


@pytest.mark.parametrize("writer_cls, options, rows, commands, bad_rows",
                         _sink_cases())
def test_sink_batching_is_pinned(
    monkeypatch, writer_cls, options, rows, commands, bad_rows
):
    """Every Redis sink pipelines ``batch_size`` commands per round
    trip and flushes the tail, sends nothing for a row that maps to no
    command, and fails a NULL row with its own message before that
    row's batch reaches the wire."""
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    sent: list[list[tuple]] = []
    checked = RedisClient.pipeline_checked

    def recording(self, batch):
        sent.append([tuple(c) for c in batch])
        return checked(self, batch)

    monkeypatch.setattr(RedisClient, "pipeline_checked", recording)
    with FakeRedisServer() as srv:
        opts = {"host": srv.host, "port": str(srv.port), "batch_size": "2",
                **options}
        writer_cls(opts).write(iter(rows))
        assert sent == [commands[0:2], commands[2:4], commands[4:]]
        for bad, message in bad_rows:
            sent.clear()
            with pytest.raises(ValueError) as err:
                writer_cls(opts).write(iter(rows[:3] + [bad] + rows[3:]))
            assert str(err.value) == message
            # the first full batch went out; the one holding the bad
            # row never did
            assert sent == [commands[0:2]]


_NO_PANDAS_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from duckdb_redis_olap_scanner_spark.functions import redis_fns
from duckdb_redis_olap_scanner_spark.sources import redis_source as rs
from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

out = {}
with FakeRedisServer() as srv:
    srv.seed_strings({"s:1": "v1", "s:2": "v2"})
    srv.seed_ttls({"s:1": 50})
    srv.seed_hashes({"h:1": {"f": "x", "g": "y"}})
    srv.seed_list("l", ["a", "b", "c"])
    srv.seed_zset("z", {"m": 1.5, "n": 2.0})
    opts = {"host": srv.host, "port": str(srv.port)}
    for name, cls, extra in [
        ("scan", rs.RedisScanReader, {"pattern": "s:*"}),
        ("kv", rs.RedisKVReader, {"pattern": "s:*"}),
        ("hash", rs.RedisHashReader, {"pattern": "h:*"}),
        ("list", rs.RedisListReader, {"key": "l"}),
        ("zset", rs.RedisZSetReader, {"key": "z"}),
    ]:
        reader = cls({**opts, **extra})
        out[name] = [
            b.to_pylist() for p in reader.partitions() for b in reader.read(p)
        ]
    pandas = {"readers": "pandas" in sys.modules}
    for name, udf in [
        ("get", redis_fns.make_redis_get(srv.host, srv.port)),
        ("get_empty", redis_fns.make_redis_get(srv.host, srv.port, "empty")),
        ("ttl", redis_fns.make_redis_ttl(srv.host, srv.port)),
        ("hgetall", redis_fns.make_redis_hgetall(srv.host, srv.port)),
    ]:
        prefix = "h:" if name == "hgetall" else "s:"
        # built from buffers too: pa.array on a list imports pandas
        batches = [rs._utf8_column([prefix + "1", None, "nokey"]),
                   rs._utf8_column([None])]
        out[name] = [a.tolist() for a in udf.func(iter(batches))]
    pandas["udfs"] = "pandas" in sys.modules
out["pandas"] = pandas
print(json.dumps(out, default=str))
"""


def test_readers_and_udfs_never_import_pandas(tmp_path):
    """Every Redis reader and per-key UDF builds its Arrow columns from
    buffers: in a fresh interpreter, draining the scan, kv, hash
    (RESP3), list and zset readers and running each UDF over Arrow
    batches with NULLs leaves pandas unimported (``pa.array`` on a
    Python list imports it, 0.3-0.4 s in a fresh worker)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_PROBE, repo],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["pandas"] == {"readers": False, "udfs": False}
    assert sorted(out["scan"][0], key=str) == [
        {"key_name": "s:1"}, {"key_name": "s:2"}]
    assert sorted(r["value"] for r in out["kv"][0]) == ["v1", "v2"]
    assert [sorted(r["value"]) for r in out["hash"][0]] == [
        [["f", "x"], ["g", "y"]]]
    assert out["list"] == [[{"pos": i, "element": e}
                            for i, e in enumerate("abc")]]
    assert out["zset"] == [[{"member": "m", "score": 1.5, "rank": 0},
                            {"member": "n", "score": 2.0, "rank": 1}]]
    assert out["get"] == [["v1", None, None], [None]]
    assert out["get_empty"] == [["v1", None, ""], [None]]
    assert out["ttl"] == [[50, None, -2], [None]]
    assert [[r and sorted(r) for r in b] for b in out["hgetall"]] == [
        [[["f", "x"], ["g", "y"]], None, []], [None]]
