"""Scalar surface: redis_get (null vs empty-string semantics), redduck,
set_name, redis_hgetall UDF."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark.functions.redis_fns import redduck, set_name


def test_redis_get_null_semantics(engine, spark):
    df = spark.createDataFrame(
        [("testkey:0001",), ("missing-key",), ("testkey:0002",)], ["k"]
    )
    g = engine.redis_get_udf()  # default: missing → NULL
    rows = df.select("k", g("k").alias("v")).orderBy("k").collect()
    by_key = {r.k: r.v for r in rows}
    assert by_key["testkey:0001"] == "value:0001"
    assert by_key["missing-key"] is None


def test_redis_get_empty_string_bug_compat(engine, spark):
    # Reference behavior: missing key → "" (redis_client.cpp:232-236).
    df = spark.createDataFrame([("missing-key",)], ["k"])
    g = engine.redis_get_udf(missing="empty")
    assert df.select(g("k").alias("v")).collect()[0].v == ""


def test_redis_get_over_scan(engine):
    # README.md:33-34 — SELECT key, redis_get(key) FROM redis_scan('pattern')
    g = engine.redis_get_udf()
    rows = (
        engine.redis_scan("testkey:*")
        .select("key_name", g("key_name").alias("value"))
        .orderBy("key_name")
        .collect()
    )
    assert [r.value for r in rows] == [f"value:{i:04d}" for i in range(1, 11)]


def test_redduck_and_set_name(spark):
    df = spark.createDataFrame([("Quack",)], ["name"])
    row = df.select(
        redduck("name").alias("r"), set_name("name").alias("s")
    ).collect()[0]
    assert row.r == "Redduck Quack \U0001f425"
    assert row.s == "name is set"


def test_hgetall_udf(engine, spark):
    df = spark.createDataFrame([("user:1001",), ("nope",)], ["k"])
    h = engine.redis_hgetall_udf()
    rows = {r.k: r.m for r in df.select("k", h("k").alias("m")).collect()}
    assert rows["user:1001"] == {"name": "ada", "age": "36"}
    assert rows["nope"] == {}


def test_redis_ttl_udf(engine, redis_server):
    """TTL semantics through the LongType UDF: seeded seconds pass
    through, no-expiry keys give -1, missing keys give -2."""
    from pyspark.sql import functions as F

    redis_server.seed_ttls({"testkey:0001": 500, "testkey:0002": 9})
    t = engine.redis_ttl_udf()
    df = engine.redis_scan("testkey:*").select(
        "key_name", t("key_name").alias("ttl")
    )
    got = {r.key_name: r.ttl for r in df.collect()}
    assert got["testkey:0001"] == 500
    assert got["testkey:0002"] == 9
    assert got["testkey:0003"] == -1
    assert dict(df.dtypes)["ttl"] == "bigint"
    missing = engine.spark.createDataFrame(
        [("nope:1",)], "key_name string"
    ).select(t("key_name").alias("ttl"))
    assert missing.collect()[0].ttl == -2


def test_udfs_null_key_in_null_out(engine, spark, redis_server):
    """SQL null-in → null-out for every key UDF: a NULL key is NOT the
    legal Redis key "" (substituting "" returned that key's value and
    conflated NULL with missing — r14 review); under missing='empty'
    only missing KEYS get '', NULL inputs stay NULL."""
    from pyspark.sql import functions as F

    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    # make the conflation observable: seed the legal empty-string key.
    # One key can only hold ONE type now (the fake answers WRONGTYPE
    # like real Redis — r17 fidelity fix), so the string-UDF and
    # hash-UDF conflation probes run as two phases over two realistic
    # server states instead of the old forked-type state.
    with RedisClient(redis_server.host, redis_server.port) as c:
        c.command("SET", "", "empty-key-value")

    df = spark.createDataFrame(
        [("testkey:0001",), (None,), ("no-such-key",)], "k string"
    )
    g = engine.redis_get_udf()
    ge = engine.redis_get_udf(missing="empty")
    t = engine.redis_ttl_udf()
    rows = df.select(
        "k",
        g("k").alias("v"),
        ge("k").alias("ve"),
        t("k").alias("ttl"),
    ).collect()
    by_k = {r.k: r for r in rows}
    assert by_k["testkey:0001"].v == "value:0001"
    assert by_k[None].v is None  # NOT 'empty-key-value'
    assert by_k[None].ve is None  # missing='empty' is for missing KEYS
    assert by_k[None].ttl is None  # NOT -2, NOT ""'s ttl
    assert by_k["no-such-key"].v is None
    assert by_k["no-such-key"].ve == ""
    assert by_k["no-such-key"].ttl == -2

    # phase 2: "" as a HASH, so a NULL->"" substitution in the
    # hgetall UDF would surface as {'f': 'v'}
    with RedisClient(redis_server.host, redis_server.port) as c:
        c.command("DEL", "")
        c.command("HSET", "", "f", "v")
    h = engine.redis_hgetall_udf()
    rows = df.select("k", h("k").alias("m")).collect()
    by_k = {r.k: r for r in rows}
    assert by_k[None].m is None  # NOT {'f': 'v'}

    with RedisClient(redis_server.host, redis_server.port) as c:
        c.command("DEL", "")


def test_per_key_chunking_is_pinned(monkeypatch):
    """The per-key UDFs fetch once per ``MGET_CHUNK`` rows over that
    chunk's non-NULL keys (an all-NULL chunk sends nothing), scatter
    the replies back with NULL at each NULL key, and
    ``missing="empty"`` fills only missing keys. Batches arrive as
    Arrow arrays, as Spark hands them to an ``arrow_udf``."""
    import pyarrow as pa

    from duckdb_redis_olap_scanner_spark.functions import redis_fns
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    monkeypatch.setattr(redis_fns, "MGET_CHUNK", 4)
    calls: list[list] = []
    mget, hgetall, checked = (
        RedisClient.mget_raw,
        RedisClient.hgetall_pipelined_raw,
        RedisClient.pipeline_checked,
    )
    monkeypatch.setattr(
        RedisClient, "mget_raw", lambda c, ks: calls.append(ks) or mget(c, ks)
    )
    monkeypatch.setattr(
        RedisClient, "hgetall_pipelined_raw",
        lambda c, ks: calls.append(ks) or hgetall(c, ks),
    )
    monkeypatch.setattr(
        RedisClient, "pipeline_checked",
        lambda c, cmds: calls.append([k for _, k in cmds]) or checked(c, cmds),
    )
    # NULLs on both sides of the 3|4 chunk boundary; batch 2's first
    # chunk is all NULL
    layout = [
        ["k0", "k1", "k2", None, None, "k5", "nokey", "k7", None, "k9"],
        [None, None, None, None, "k1"],
    ]
    want_calls = [["k0", "k1", "k2"], ["k5", "nokey", "k7"], ["k9"], ["k1"]]
    present = {"k0", "k1", "k2", "k5", "k7", "k9"}

    def run(udf, prefix):
        calls.clear()
        batches = [
            pa.array([k and prefix + k for k in b], pa.string())
            for b in layout
        ]
        out = []
        for arr in udf.func(iter(batches)):
            assert isinstance(arr, pa.Array)
            rows = arr.to_pylist()
            if pa.types.is_map(arr.type):  # a map row is (field, value) pairs
                rows = [None if r is None else dict(r) for r in rows]
            out.append(rows)
        assert calls == [[prefix + k for k in c] for c in want_calls]
        return out

    def expect(hit, miss):
        return [[None if k is None else hit(k) if k in present else miss
                 for k in b] for b in layout]

    with FakeRedisServer() as srv:
        srv.seed_strings({f"s:{k}": f"v:{k}" for k in present})
        srv.seed_ttls({"s:k5": 50})
        srv.seed_hashes({f"h:{k}": {"f": k} for k in present})
        args = (srv.host, srv.port)
        assert run(redis_fns.make_redis_get(*args), "s:") == expect(
            lambda k: f"v:{k}", None)
        assert run(redis_fns.make_redis_get(*args, missing="empty"),
                   "s:") == expect(lambda k: f"v:{k}", "")
        assert run(redis_fns.make_redis_ttl(*args), "s:") == expect(
            lambda k: 50 if k == "k5" else -1, -2)
        assert run(redis_fns.make_redis_hgetall(*args), "h:") == expect(
            lambda k: {"f": k}, {})
