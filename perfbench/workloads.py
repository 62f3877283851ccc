"""The benchmark's workloads.  Each one prepares its seeded inputs,
sets up a session (and a replay server), and offers a list of
operations; a pass runs every operation once, one Spark action at a
time from this one driver process (a closed loop with one client).

Layers are measured from outside: the benchmark times calls into each
layer's public functions and changes nothing inside the package.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import gen
from perfbench.replay_server import Control, replay_drain


@dataclass
class Op:
    name: str
    build: Callable[[], Any]  # Python-side plan build, returns a DataFrame
    act: Callable[[Any], Any]  # the Spark action
    check: Callable[[Any], bool]  # is the action's result right?
    before: Callable[[], None] = lambda: None  # untimed bookkeeping


def _timed(parts: dict, name: str, fn: Callable[[], Any]) -> Any:
    t0 = time.perf_counter()
    out = fn()
    parts[name] = time.perf_counter() - t0
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ReplayServer:
    """The replay server process: started, counted, stopped."""

    def __init__(self, keyspaces: list[str], corrupt: bool) -> None:
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "replay_server.py"),
               *keyspaces] + (["--corrupt"] if corrupt else [])
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline().split()
        if line[:1] != ["READY"]:
            self.stop()
            raise RuntimeError("replay server did not start")
        self.port = int(line[1])
        self.ctl = Control(self.port)

    @property
    def address(self) -> str:
        return f"127.0.0.1:{self.port}"

    def stop(self) -> None:
        if getattr(self, "ctl", None) is not None:
            self.ctl.close()
            self.ctl = None
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class Workload:
    """Shared session handling.  Subclasses define inputs and ops."""

    name = ""
    uses_redis = True
    keyspaces: list[str] = []  # files the replay server loads
    keys_per_pass = 0
    min_passes = 3  # timed passes per run, so pass_s is a true median

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = None
        self.eng = None
        self.server: ReplayServer | None = None

    def prepare(self) -> None:
        """Generate the inputs and the answers results are checked against."""
        raise NotImplementedError

    def setup(self) -> dict[str, float]:
        """One timed set-up; returns the seconds each part took."""
        from duckdb_redis_olap_scanner_spark.engine import Engine, get_spark

        parts: dict[str, float] = {}
        if self.uses_redis:
            self.server = _timed(parts, "server.start_s",
                                 lambda: ReplayServer(self.keyspaces, self.ctx.corrupt))
        self.spark = _timed(parts, "engine.session_s", get_spark)
        self.spark.sparkContext.setLogLevel("ERROR")

        def connect():
            eng = Engine(self.spark)
            if self.server is not None:
                eng.connect(self.server.address)
            return eng

        self.eng = _timed(parts, "engine.connect_s", connect)
        _timed(parts, "engine.first_python_action_s", self.first_python_action)
        self.after_setup()
        return parts

    def first_python_action(self) -> None:
        def passthrough(batches):
            yield from batches

        _noop(self.spark.range(8, numPartitions=1).mapInArrow(passthrough, "id long"))

    def after_setup(self) -> None:
        pass

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.server is not None:
            self.server.stop()
            self.server = None

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def warmup_passes(self) -> list[list[Op]]:
        """Untimed passes run before timing starts."""
        return [self.ops()]

    def facts(self) -> dict:
        return {}

    def direct(self) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
        """Direct calls into the Python layers, outside Spark (traced run
        only).  Returns the per-layer totals and, per op, the self time
        of each Python layer on the op's critical path."""
        return {}, {}


# ----------------------------------------------------------------------------
# OLAP catalog
# ----------------------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "∅"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (TypeError, ValueError):
            pass
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def result_hash(pdf) -> str:
    """Order-insensitive hash of a pandas result: columns by name, rows
    canonicalised and sorted."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(None if v is pd.NaT else v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


class Olap(Workload):
    """The ``bench``-tagged catalog entries over seeded sf0.1 tables,
    each forced with the ``noop`` sink."""

    name = "olap_sf01"
    uses_redis = False
    # A pass takes 7-9 s and gives 20 operation samples.  Passes in one
    # run differ by ~5%, runs by much more, so a second timed pass adds
    # little, and the run's cold pass already costs ~25 s.
    min_passes = 1

    def prepare(self) -> None:
        import duckdb

        from duckdb_redis_olap_scanner_spark.plans.catalog import registry

        self.inputs = gen.make_olap(self.ctx.inputs, self.ctx.seed, self.ctx.size)
        entries = registry()
        self.entries = {n: e for n, e in sorted(entries.items()) if "bench" in e.tags}
        sf = self.inputs["dir"]
        # DuckDB's answers are kept beside the inputs, keyed by the
        # oracle SQL, so a changed oracle is answered again.
        path = os.path.join(sf, "expected.json")
        try:
            with open(path) as f:
                known = json.load(f)
        except (OSError, ValueError):
            known = {}
        todo = [n for n, e in self.entries.items() if known.get(n, [None])[0] != e.oracle]
        if todo:
            con = duckdb.connect()
            for t in self.inputs["rows"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            for n in todo:
                oracle = self.entries[n].oracle
                known[n] = [oracle, result_hash(con.execute(oracle).fetchdf())]
            con.close()
            with open(path, "w") as f:
                json.dump(known, f)
        self.expected = {n: known[n][1] for n in self.entries}
        # keys_per_s counts the rows of every table an entry reads
        rows = self.inputs["rows"]
        self.keys_per_pass = sum(
            n for e in self.entries.values() for t, n in rows.items()
            if re.search(rf"\b{t}\b", e.oracle)
        )
        self.bad: set[str] = set()  # entries whose collected result was wrong

    def _op(self, name: str, entry, collect: bool) -> Op:
        sf = self.inputs["dir"]

        def check_collected(pdf) -> bool:
            ok = result_hash(pdf) == self.expected[name]
            if not ok:
                self.bad.add(name)
                print(f"perfbench: {name}: result differs from its oracle", file=sys.stderr)
            return ok

        if collect:
            return Op(name, lambda: entry.fn(self.spark, sf), lambda df: df.toPandas(),
                      check_collected)
        return Op(name, lambda: entry.fn(self.spark, sf), _noop,
                  lambda _: name not in self.bad)

    def warmup_passes(self) -> list[list[Op]]:
        # The warm-up pass collects each result and checks it against the
        # DuckDB oracle.  The JIT is still warming after it, so the timed
        # pass, each entry's second run, is 15-40% above steady state; a
        # run has no time for the further warm-up passes that would close
        # the gap.
        return [[self._op(n, e, True) for n, e in self.entries.items()]]

    def ops(self) -> list[Op]:
        return [self._op(n, e, False) for n, e in self.entries.items()]

    def direct(self):
        """Plan build without the catalog's per-session memo, which the
        timed passes hit: each entry's registered function called once."""
        sf = self.inputs["dir"]
        t0 = time.perf_counter()
        for e in self.entries.values():
            e.raw_fn(self.spark, sf)
        return {"plans.build_s": time.perf_counter() - t0}, {}


# ----------------------------------------------------------------------------
# Redis
# ----------------------------------------------------------------------------


def _crc(col):
    from pyspark.sql import functions as F

    return F.crc32(col.cast("binary"))


def _agg(df, checksum):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(checksum).alias("c"))


class RedisRW(Workload):
    """One pass = reply-heavy bulk reads through the default single SCAN
    partition (redis_scan, redis_kv, redis_hash over RESP3), then
    request-heavy point work over nproc-1 partitions (a redis_get UDF
    enrichment and a redis_kv write)."""

    name = "redis_rw"

    def prepare(self) -> None:
        ctx = self.ctx
        self.parts = max(1, ctx.nproc - 1)
        self.bulk = gen.make_bulk(ctx.inputs, ctx.seed, ctx.size)
        self.point = gen.make_point(ctx.inputs, ctx.seed, ctx.size, self.parts)
        self.keyspaces = [self.bulk["keyspace"], self.point["keyspace"]]
        self.keys_per_pass = sum(v[0] for v in self.bulk["expect"].values()) + self.point["keys"]

    def first_python_action(self) -> None:
        self.eng.redis_scan("s:0000000*").count()

    def after_setup(self) -> None:
        self.redis_get = self.eng.redis_get_udf()

    def ops(self) -> list[Op]:
        return self.bulk_ops() + self.point_ops()

    def bulk_ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        exp = self.bulk["expect"]

        def read(name, build):
            want = tuple(exp[name])
            return Op(name, build, lambda df: df.collect()[0],
                      lambda row: (row["n"], row["c"]) == want)

        def hash_checksum():
            fields = F.aggregate(
                F.map_entries("value"), F.lit(0).cast("long"),
                lambda acc, e: acc + _crc(F.concat(e["key"], F.lit("="), e["value"])),
            )
            return _crc(F.col("key")) + fields

        return [
            read("scan", lambda: _agg(self.eng.redis_scan("s:*"), _crc(F.col("key_name")))),
            read("kv", lambda: _agg(self.eng.redis_kv("s:*"),
                                    _crc(F.concat("key", F.lit("="), "value")))),
            read("hash", lambda: _agg(self.eng.redis_hash("h:*"), hash_checksum())),
        ]

    def point_ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        exp = self.point["expect"]
        ctl = self.server.ctl
        mark: dict[str, int] = {}

        def enrich():
            v = self.redis_get(F.col("k"))
            return self.spark.read.parquet(*self.point["keycol"]).select(v.alias("v")).agg(
                F.count("v").alias("n"), F.sum(_crc(F.col("v"))).alias("c"))

        def write_df():
            return self.spark.read.parquet(*self.point["writes"])

        def write(df):
            (df.write.format("redis_kv").option("host", "127.0.0.1")
             .option("port", str(self.server.port)).mode("append").save())

        def before_write():
            mark.update(ctl.stats())

        def check_write(_):
            now = ctl.stats()
            return (now["sets"] - mark["sets"], now["set_crc"] - mark["set_crc"]) == tuple(
                exp["write"])

        return [
            Op("get", enrich, lambda df: df.collect()[0],
               lambda row: (row["n"], row["c"]) == tuple(exp["get"])),
            Op("write", write_df, write, check_write, before_write),
        ]

    def facts(self) -> dict:
        def parts(files):
            return self.spark.read.parquet(*files).rdd.getNumPartitions()

        return {
            "scan_partitions": len(self._reader("redis_kv", "s:*").partitions()),
            "keycol_partitions": parts(self.point["keycol"]),
            "write_partitions": parts(self.point["writes"]),
        }

    def _reader(self, fmt: str, pattern: str):
        from duckdb_redis_olap_scanner_spark.sources import redis_source as rs

        opts = {"host": "127.0.0.1", "port": str(self.server.port), "pattern": pattern}
        cls = {"redis_scan": rs.RedisScanReader, "redis_kv": rs.RedisKVReader,
               "redis_hash": rs.RedisHashReader}[fmt]
        return cls(opts)

    def direct(self, repeats: int = 3):
        """Median over ``repeats`` rounds of direct calls."""
        rounds = []
        for _ in range(repeats):
            bt, bops = self.bulk_direct()
            pt, pops = self.point_direct()
            bt["transport.mget_s"] += pt.pop("transport.mget_s")
            rounds.append(({**bt, **pt}, {**bops, **pops}))
        totals = {k: statistics.median(r[0][k] for r in rounds) for k in rounds[0][0]}
        per_op = {op: {layer: statistics.median(r[1][op][layer] for r in rounds)
                       for layer in layers} for op, layers in rounds[0][1].items()}
        return totals, per_op

    def bulk_direct(self):
        from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

        port = self.server.port
        t: dict[str, float] = {}

        def drain(fmt, pattern):
            reader = self._reader(fmt, pattern)
            (part,) = reader.partitions()
            t0 = time.perf_counter()
            for _ in reader.read(part):
                pass
            return time.perf_counter() - t0

        def pages(pattern, protocol):
            with RedisClient("127.0.0.1", port, protocol=protocol) as c:
                t0 = time.perf_counter()
                out = list(c.scan_iter(pattern))
                return out, time.perf_counter() - t0

        def per_page(key_pages, protocol, call):
            with RedisClient("127.0.0.1", port, protocol=protocol) as c:
                t0 = time.perf_counter()
                for keys in key_pages:
                    call(c, keys)
                return time.perf_counter() - t0

        s_pages, scan_s = pages("s:*", 2)
        h_pages, scan_h = pages("h:*", 3)
        mget = per_page(s_pages, 2, RedisClient.mget)
        hgetall = per_page(h_pages, 3, RedisClient.hgetall_pipelined)
        ctl = self.server.ctl
        ctl.call("BENCH.RECORD", 1)
        scan_read = drain("redis_scan", "s:*")
        kv_read = drain("redis_kv", "s:*")
        hash_read = drain("redis_hash", "h:*")
        log = os.path.join(self.ctx.work, "replay.log")
        ctl.call("BENCH.DUMP", log)
        ctl.call("BENCH.RECORD", 0)
        floor = replay_drain(port, log)
        os.unlink(log)
        t.update({
            "transport.scan_s": 2 * scan_s + scan_h,
            "transport.mget_s": mget,
            "transport.hgetall_s": hgetall,
            "transport.recv_floor_s": floor,
            "sources.scan_read_s": scan_read,
            "sources.kv_read_s": kv_read,
            "sources.hash_read_s": hash_read,
        })
        per_op = {
            "scan": {"transport": scan_s, "sources": scan_read - scan_s},
            "kv": {"transport": scan_s + mget, "sources": kv_read - scan_s - mget},
            "hash": {"transport": scan_h + hgetall, "sources": hash_read - scan_h - hgetall},
        }
        t["sources.arrow_build_s"] = sum(v["sources"] for v in per_op.values())
        return t, per_op

    def point_direct(self):
        import pandas as pd
        import pyarrow.parquet as pq
        from pyspark.sql import Row

        from duckdb_redis_olap_scanner_spark.functions.redis_fns import MGET_CHUNK
        from duckdb_redis_olap_scanner_spark.sources.redis_source import RedisKVWriter
        from duckdb_redis_olap_scanner_spark.transport.resp import (
            DEFAULT_SCAN_COUNT,
            RedisClient,
            encode_command,
        )

        port = self.server.port
        # Partition 0 stands for the critical path: every partition is
        # the same size and they run side by side.
        keys = pq.read_table(self.point["keycol"][0]).column("k").to_pylist()
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        series = [pd.Series(keys[i:i + batch], dtype="object") for i in range(0, len(keys), batch)]
        t0 = time.perf_counter()
        for _ in self.redis_get.func(iter(series)):
            pass
        get_s = time.perf_counter() - t0
        chunks = [
            [k for k in keys[i:i + MGET_CHUNK] if k is not None]
            for b in range(0, len(keys), batch)
            for i in range(b, min(b + batch, len(keys)), MGET_CHUNK)
        ]
        with RedisClient("127.0.0.1", port) as c:
            t0 = time.perf_counter()
            for ch in chunks:
                if ch:
                    c.mget(ch)
            mget_s = time.perf_counter() - t0

        tbl = pq.read_table(self.point["writes"][0])
        rows = [Row(key=k, value=v) for k, v in zip(tbl.column("key").to_pylist(),
                                                    tbl.column("value").to_pylist())]
        writer = RedisKVWriter({"host": "127.0.0.1", "port": str(port)})
        t0 = time.perf_counter()
        writer.write(iter(rows))
        write_s = time.perf_counter() - t0
        cmds = [("SET", r.key, r.value) for r in rows]
        batches = [cmds[i:i + DEFAULT_SCAN_COUNT] for i in range(0, len(cmds), DEFAULT_SCAN_COUNT)]
        t0 = time.perf_counter()
        for cmd in cmds:
            encode_command(*cmd)
        encode_s = time.perf_counter() - t0
        with RedisClient("127.0.0.1", port) as c:
            t0 = time.perf_counter()
            for b in batches:
                c.pipeline_checked(b)
            pipeline_s = time.perf_counter() - t0
        totals = {
            "transport.mget_s": mget_s,
            "transport.encode_s": encode_s,
            "transport.pipeline_s": pipeline_s,
            "sources.kv_write_s": write_s,
            "functions.redis_get_s": get_s,
        }
        per_op = {
            "get": {"transport": mget_s, "functions": get_s - mget_s},
            "write": {"transport": pipeline_s, "sources": write_s - pipeline_s},
        }
        return totals, per_op


WORKLOADS = {w.name: w for w in (Olap, RedisRW)}
