"""Redis data sources for Spark (Python DataSource API, Spark >= 4.0).

Spark-first re-expression of the reference's table-function surface:

* ``redis_scan``  — keyspace scan → ``(key_name string)``.
  Reference: the ``redis_scan`` DuckDB table function
  (``src/redduck_extension.cpp:123-322``): cursor-driven
  ``SCAN <cursor> MATCH <pattern> COUNT 2048`` loop, pattern passed
  verbatim as a Redis glob, duplicates passed through, single-threaded.
* ``redis_kv``    — batch key/value retrieval → ``(key string, value string)``.
  Documented-but-unimplemented in the reference (``README.md:30-31``);
  we implement it as SCAN batches + one pipelined ``MGET`` per batch.
* ``redis_hash``  — hash expansion → ``(key string, value map<string,string>)``.
  Documented-but-unimplemented in the reference (``README.md:36-38``,
  advertised as ``redis_hgetall(key) → STRUCT``); a MapType column is the
  schema-free Spark analogue, with ``value['field']`` access.

Scale design: the SCAN cursor is inherently sequential, so the default is
ONE input partition (matching the reference's ``MaxThreads()==1``,
``redduck_extension.cpp:154-156``).  Two parallel paths compose on top:

* ``shard_patterns`` — a ``;``-separated list of disjoint glob patterns
  (e.g. key prefixes); each shard becomes its own InputPartition
  scanned by a separate task with its own connection.
* ``cluster_slots=true`` — the production analog for Redis Cluster
  (SURVEY §4.1): the driver runs ``CLUSTER SLOTS`` on the seed node
  once per read and emits one InputPartition per distinct MASTER,
  carrying the slot ranges that master owned in the snapshot. Each
  task filters its SCAN output to those ranges (``_scan_owned``), so
  the union of per-node scans is **exactly-once per topology
  snapshot** even while keys migrate: a mid-migration key physically
  present on BOTH source and target nodes is kept only by the
  snapshot owner's partition (r14 — previously double-reported, the
  redis-cli --scan contract). With ``shard_patterns`` too,
  partitions = nodes x patterns. :func:`key_slot` (CRC16-XMODEM +
  hashtag rule) is the shared slot mapping. Spark re-executes a
  DataFrame with the partitions it planned first, so every task
  re-reads CLUSTER SLOTS on its node and raises
  :class:`RedisTopologyChanged` if the snapshot no longer holds.

  Residual SCAN contract: a key whose slot's ownership CHANGES
  between the snapshot and the moment its node's cursor passes it can
  still be missed (seen by neither scan) — inherent to cursor scans
  on a live keyspace; re-read under a fresh snapshot for settled
  topologies. Value fetches stay correct throughout: every GET/MGET
  path follows MOVED/ASK (and recovers from CROSSSLOT/TRYAGAIN) per
  ``transport.resp``, so rows the scan surfaces carry the value from
  the key's CURRENT owner.

Binary-key contract: SCAN's key bytes go back to the server as they
came, for the MGET/HGETALL value fetch and for the cluster slot filter
(``_scan_owned``), so a key that is not valid UTF-8 keeps its value,
its fields and its exactly-once count like any other key. Only its
rendering is lossy: the schemas are StringType, so the key column (and
any value, field, list element or zset member that is not valid UTF-8)
shows U+FFFD replacement characters. Pipelines that need byte-faithful
keys should use binary-safe key design (the norm for OLAP keyspaces)
or a future BinaryType schema variant.

Every column is built from Arrow buffers: a string column by
:func:`_utf8_column` straight from the reply's bytes (offsets from the
element lengths, one join of the data, a validity bitmap only when a
NULL is present), a numeric one over a numpy buffer and the hash map by
:func:`_map_column`. Rows never pass through Python ``str`` objects or
Python-object row conversion, and ``pa.array`` is never called on a
Python list: it asks pandas whether the list is a pandas object, which
imports pandas (0.3-0.4 s) in every fresh worker. The per-key UDFs
(``functions.redis_fns``) build their output with the same builders.

One code path per job: the three scan-family readers share
``_ScanFamilyReader`` (partitions, connection, the ``_scan_owned`` page
loop) and each builds one batch from one key page; the zset and list
readers share ``_KeyPageReader``'s pager; every sink sends its
commands through :meth:`RedisClient.pipeline_batched`. The hash and
zset readers negotiate RESP3 (their replies change shape under it) and
fall back to RESP2 on pre-6.0 servers; the other readers speak RESP2.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..transport.resp import (
    DEFAULT_SCAN_COUNT,
    RedisClient,
    _as_str,
    host_port_of,
    raise_nested,
)


# An Arrow string column's int32 offsets address at most this many bytes.
_MAX_BINARY_BYTES = 2**31 - 1


def _validity(values: list) -> tuple[pa.Buffer | None, int]:
    """The validity bitmap and null count of ``values``, whose ``None``
    elements are the nulls; no bitmap when there is no ``None``."""
    if None not in values:
        return None, 0
    valid = np.fromiter(
        (v is not None for v in values), np.bool_, len(values)
    )
    bitmap = np.packbits(valid, bitorder="little")
    return pa.py_buffer(bitmap), len(values) - int(valid.sum())


def _binary_column(values: list) -> pa.Array:
    """An Arrow binary column from bytes, str or None elements, built
    from three buffers: a validity bitmap (only when a ``None`` is
    present), the offsets from the element lengths, and one join of
    the elements. Any other element raises ``TypeError``."""
    bitmap, nulls = None, 0
    try:
        data = b"".join(values)  # refuses anything but bytes elements
    except TypeError:
        bitmap, nulls = _validity(values)
        values = [
            b"" if v is None
            else v.encode() if v.__class__ is str  # RESP3 map keys (_as_key)
            else v
            for v in values
        ]
        data = b"".join(values)
    if len(data) > _MAX_BINARY_BYTES:
        raise ValueError(
            f"{len(data)} bytes in one batch exceed the "
            f"{_MAX_BINARY_BYTES} an Arrow string column can hold"
        )
    offsets = np.zeros(len(values) + 1, np.int32)
    lengths = np.fromiter(map(len, values), np.int32, len(values))
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.binary(),
        len(values),
        [bitmap, pa.py_buffer(offsets), pa.py_buffer(data)],
        nulls,
    )


def _utf8_column(values: list) -> pa.Array:
    """An Arrow string column from reply elements (bytes, str or None):
    one copy into a binary array (:func:`_binary_column`), then Arrow's
    UTF-8 validation. Only a batch that fails it, or holds an element
    of another type, is rebuilt through :func:`_as_str`, which gives
    the documented ``decode("utf-8", "replace")`` rendering and raises
    an error element's :class:`RespError`."""
    try:
        return _binary_column(values).cast(pa.string())
    except (pa.ArrowInvalid, TypeError):
        return _binary_column([_as_str(v) for v in values]).cast(pa.string())


def _numpy_column(
    data: np.ndarray, bitmap: pa.Buffer | None = None, nulls: int = 0
) -> pa.Array:
    """An Arrow column over the buffer of a one-dimensional numpy
    int32, int64 or float64 array, nulls marked by ``bitmap``."""
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(data.dtype),
        len(data),
        [bitmap, pa.py_buffer(data)],
        nulls,
    )


def _numeric_column(values: list, dtype: type) -> pa.Array:
    """An Arrow column of numpy ``dtype`` from a list of numbers, each
    ``None`` a null."""
    bitmap, nulls = _validity(values)
    data = np.fromiter(
        (0 if v is None else v for v in values) if nulls else values,
        dtype,
        len(values),
    )
    return _numpy_column(data, bitmap, nulls)


_STRING_MAP = pa.map_(pa.string(), pa.string())


def _map_column(replies: list) -> pa.Array:
    """An Arrow map<string,string> column from HGETALL replies in
    either wire shape (a RESP3 map or a RESP2 flat field/value list);
    an empty reply is ``{}`` and ``None`` a NULL map."""
    fields: list = []
    values: list = []
    offsets = np.zeros(len(replies) + 1, np.int32)
    for i, reply in enumerate(replies, 1):
        if isinstance(reply, dict):  # RESP3 map
            fields.extend(reply)
            values.extend(reply.values())
        elif reply:  # RESP2 flat field/value list
            fields.extend(reply[0::2])
            values.extend(reply[1::2])
        offsets[i] = len(fields)
    entries = pa.StructArray.from_arrays(
        [_utf8_column(fields), _utf8_column(values)],
        fields=[_STRING_MAP.key_field, _STRING_MAP.item_field],
    )
    bitmap, nulls = _validity(replies)
    return pa.Array.from_buffers(
        _STRING_MAP,
        len(replies),
        [bitmap, pa.py_buffer(offsets)],
        nulls,
        children=[entries],
    )


def _hgetalls(client: RedisClient, keys: list) -> list:
    """One pipelined HGETALL of ``keys``, a missing or wrong-type
    key's reply as ``{}``."""
    return [r or {} for r in client.hgetall_pipelined_raw(keys)]


class RedisShard(InputPartition):
    def __init__(
        self,
        host: str,
        port: int,
        pattern: str,
        count: int,
        slot_ranges: tuple[tuple[int, int], ...] | None = None,
        topology: list | None = None,
    ) -> None:
        self.host = host
        self.port = port
        self.pattern = pattern
        self.count = count
        # The slot ranges this node OWNED in the driver's CLUSTER
        # SLOTS snapshot (None on standalone/shard_patterns paths).
        # Scan-family readers drop keys outside them, making cluster
        # coverage exactly-once-per-snapshot during a live reshard: a
        # mid-migration key physically present on BOTH source and
        # target is kept only by the snapshot owner's partition.
        self.slot_ranges = slot_ranges
        # The whole snapshot (every master with its ranges, as
        # _cluster_nodes returns it). Spark re-executes a DataFrame
        # with the partitions it planned first, so each task checks
        # that its node still serves this topology (_scan_owned).
        self.topology = topology


class RedisTopologyChanged(RuntimeError):
    """A ``cluster_slots`` read ran against a cluster whose CLUSTER
    SLOTS differ from the snapshot its partitions were planned from.
    Scanning on would silently drop the keys of every moved slot; a
    fresh read plans from the new topology."""


def _crc16_xmodem(data: bytes) -> int:
    """CRC16-CCITT/XMODEM (poly 0x1021, init 0) — the checksum Redis
    Cluster uses for key→slot mapping."""
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x1021) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def key_slot(key: str | bytes) -> int:
    """Redis Cluster HASH_SLOT: CRC16 of the key (or of the first
    non-empty ``{hashtag}`` if present) mod 16384. Accepts raw bytes —
    slots MUST be computed on the wire bytes: a lossy UTF-8 decode of
    a binary key re-encodes the replacement characters and lands on a
    different slot than the server used."""
    k = key if isinstance(key, bytes) else key.encode("utf-8")
    i = k.find(b"{")
    if i >= 0:
        j = k.find(b"}", i + 1)
        if j > i + 1:  # only a NON-EMPTY hashtag reroutes the slot
            k = k[i + 1 : j]
    return _crc16_xmodem(k) % 16384


def _cluster_masters(
    client: RedisClient, host: str
) -> list[tuple[str, int, tuple[tuple[int, int], ...]]]:
    """Masters in ``CLUSTER SLOTS`` on ``client``'s node, each with ALL
    the slot ranges it owns, in first-appearance order. A master
    owning several ranges appears ONCE (SCAN on a node covers every
    slot it owns). An empty ip means the address queried, ``host``."""
    ranges: dict[tuple[str, int], list[tuple[int, int]]] = {}
    for e in raise_nested(client.command("CLUSTER", "SLOTS")) or []:
        node = e[2]  # [ip, port, id, ...] of the range's master
        ip = _as_str(node[0]) or host
        ranges.setdefault((ip, int(node[1])), []).append(
            (int(e[0]), int(e[1]))
        )
    return [
        (ip, nport, tuple(rs)) for (ip, nport), rs in ranges.items()
    ]


def _cluster_nodes(
    host: str, port: int
) -> list[tuple[str, int, tuple[tuple[int, int], ...]]]:
    """:func:`_cluster_masters` of the seed node. The reader filters
    scanned keys to each master's ranges, so coverage is exactly-once
    per topology snapshot even while keys are migrating."""
    with RedisClient(host, port) as client:
        masters = _cluster_masters(client, host)
    if not masters:
        raise ValueError(
            f"cluster_slots=true but CLUSTER SLOTS on {host}:{port} "
            "returned no slot ranges"
        )
    return masters


def cluster_slots_enabled(options: dict) -> bool:
    """True when a read's options select the ``cluster_slots`` path,
    whose partitions come from the live topology, not the options."""
    return str(options.get("cluster_slots", "")).lower() in (
        "1", "true", "yes",
    )


def _shards(options: dict) -> list[RedisShard]:
    host, port = host_port_of(options)
    count = int(options.get("count", DEFAULT_SCAN_COUNT))
    shard_patterns = options.get("shard_patterns")
    if shard_patterns:
        patterns = [p for p in shard_patterns.split(";") if p]
    else:
        patterns = [options.get("pattern", "*")]
    if cluster_slots_enabled(options):
        # Production scale path (SURVEY §4.1): one InputPartition per
        # cluster MASTER discovered via CLUSTER SLOTS on the seed node
        # (driver side, once per read). Each task scans its own node
        # and keeps only keys whose slot the node owned in the
        # snapshot (_scan_owned) — exactly-once per snapshot even
        # under a concurrent reshard. Composes with shard_patterns:
        # nodes x patterns partitions.
        masters = _cluster_nodes(host, port)
        return [
            RedisShard(ip, nport, p, count, slot_ranges=rs, topology=masters)
            for ip, nport, rs in masters
            for p in patterns
        ]
    return [RedisShard(host, port, p, count) for p in patterns]


def _scan_owned(client: RedisClient, part: RedisShard) -> Iterator[list[bytes]]:
    """SCAN batches of raw key bytes for one partition, slot-filtered
    to the ranges the node owned in the topology snapshot. Standalone /
    shard_patterns partitions carry no ranges and pass straight through
    (zero per-key cost). On the cluster path the slot is computed from
    the raw bytes — a lossy UTF-8 decode of a binary key re-encodes the
    replacement characters and would mis-slot it, silently dropping the
    row (review r14) — and computed once per key, not once per owned
    range."""
    if part.slot_ranges is None:
        yield from client.scan_iter(
            match=part.pattern, count=part.count, raw=True
        )
        return
    if (
        part.topology is not None
        and _cluster_masters(client, part.host) != part.topology
    ):
        raise RedisTopologyChanged(
            f"CLUSTER SLOTS on {part.host}:{part.port} changed since "
            "this read was planned; read again to plan from the new "
            "topology"
        )
    for raw in client.scan_iter(
        match=part.pattern, count=part.count, raw=True
    ):
        keys = []
        for k in raw:
            s = key_slot(k)
            if any(lo <= s <= hi for lo, hi in part.slot_ranges):
                keys.append(k)
        if keys:
            yield keys


class _ScanFamilyReader(DataSourceReader):
    """The scan family's one read path: a partition per shard
    (:func:`_shards`), one connection per partition, and one
    RecordBatch per slot-filtered SCAN page, which the subclass builds
    in ``_batch``."""

    PROTOCOL = 2  # the RESP version each partition's connection asks for

    def __init__(self, options: dict) -> None:
        self.options = options

    def partitions(self) -> list[InputPartition]:
        return _shards(self.options)

    def read(self, part: RedisShard) -> Iterator[pa.RecordBatch]:
        with RedisClient(part.host, part.port, protocol=self.PROTOCOL) as client:
            for keys in _scan_owned(client, part):
                yield self._batch(client, keys)


class RedisScanReader(_ScanFamilyReader):
    def _batch(self, client: RedisClient, keys: list[bytes]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays([_utf8_column(keys)], ["key_name"])


class RedisScanDataSource(DataSource):
    """``spark.read.format("redis_scan").option("pattern", p).load()``"""

    @classmethod
    def name(cls) -> str:
        return "redis_scan"

    def schema(self) -> StructType:
        # Fixed bind-time schema, as in the reference
        # (`redduck_extension.cpp:244-246`).
        return StructType([StructField("key_name", StringType(), False)])

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisScanReader(self.options)


class RedisKVReader(_ScanFamilyReader):
    def _batch(self, client: RedisClient, keys: list[bytes]) -> pa.RecordBatch:
        values = client.mget_raw(keys)  # one round trip per SCAN page
        return pa.RecordBatch.from_arrays(
            [_utf8_column(keys), _utf8_column(values)], ["key", "value"]
        )


class _PipelinedWriter(DataSourceWriter):
    """The batch sinks' one write path: each row becomes one command
    (``_commands``, which also rejects NULLs), pipelined ``batch_size``
    commands per round trip on one connection per partition — the
    write-side mirror of the MGET batching on the read path. The
    reference is read-only (``README.md:49``); this completes the
    source/sink symmetry."""

    def __init__(self, options: dict) -> None:
        self.host, self.port = host_port_of(options)
        self.batch_size = int(options.get("batch_size", DEFAULT_SCAN_COUNT))

    def write(self, rows) -> WriterCommitMessage:
        with RedisClient(self.host, self.port) as client:
            client.pipeline_batched(self._commands(rows), self.batch_size)
        return WriterCommitMessage()


class RedisKVWriter(_PipelinedWriter):
    """One SET per (key, value) row."""

    def _commands(self, rows) -> Iterator[tuple]:
        for row in rows:
            if row.key is None or row.value is None:
                # Redis has no NULL string; str() fallback would
                # store the literal "None" (r14 bug-hunt). Fail
                # the task with actionable wording instead.
                raise ValueError(
                    "redis_kv write: NULL "
                    + ("key" if row.key is None else
                       f"value for key {row.key!r}")
                    + " — filter or fill NULLs before writing"
                )
            yield ("SET", row.key, row.value)


class RedisKVDataSource(DataSource):
    """``spark.read.format("redis_kv").option("pattern", p).load()`` /
    ``df.write.format("redis_kv").mode("append").save()``"""

    @classmethod
    def name(cls) -> str:
        return "redis_kv"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("key", StringType(), False),
                StructField("value", StringType(), True),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisKVReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return RedisKVWriter(self.options)


_HASH_ARROW_SCHEMA = pa.schema(
    [
        pa.field("key", pa.string(), nullable=False),
        pa.field("value", _STRING_MAP, nullable=True),
    ]
)


class RedisHashReader(_ScanFamilyReader):
    # HGETALL is the one reply this engine consumes whose shape
    # changed in RESP3 (flat array -> % map), so the hash source
    # negotiates RESP3 and falls back to RESP2 against pre-6.0 servers
    # (SURVEY §1.2's reserved map-type row).
    PROTOCOL = 3

    def _batch(self, client: RedisClient, keys: list[bytes]) -> pa.RecordBatch:
        # one round trip per page; a missing or wrong-type key is {}
        return pa.RecordBatch.from_arrays(
            [_utf8_column(keys), _map_column(_hgetalls(client, keys))],
            schema=_HASH_ARROW_SCHEMA,
        )


class RedisHashDataSource(DataSource):
    """``spark.read.format("redis_hash").option("pattern", p).load()``"""

    @classmethod
    def name(cls) -> str:
        return "redis_hash"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("key", StringType(), False),
                StructField("value", MapType(StringType(), StringType()), True),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisHashReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return RedisHashWriter(self.options)


class RedisHashWriter(_PipelinedWriter):
    """One HSET per (key, value map<string,string>) row, fields
    flattened; an empty map sends nothing."""

    def _commands(self, rows) -> Iterator[tuple]:
        for row in rows:
            if row.key is None:
                # checked per row, not per non-empty map: a NULL
                # key with an empty map is the same upstream
                # corruption and must fail just as loudly as in
                # the kv writer (review r14)
                raise ValueError(
                    "redis_hash write: NULL key — filter or "
                    "fill NULLs before writing"
                )
            flat: list = []
            for f, v in (row.value or {}).items():
                if f is None or v is None:
                    raise ValueError(
                        "redis_hash write: NULL "
                        + ("field" if f is None else
                           f"value for field {f!r}")
                        + f" in key {row.key!r} — Redis hashes "
                        "have no NULL; filter or fill first"
                    )
                flat += [f, v]
            if flat:
                yield ("HSET", row.key, *flat)


# ---------------------------------------------------------------------------
# Sorted-set and list sources (container-type coverage beyond the
# reference's string/hash surface — see COVERAGE.md)
# ---------------------------------------------------------------------------


class _SingleKeyPartition(InputPartition):
    def __init__(self, host: str, port: int, key: str) -> None:
        self.host, self.port, self.key = host, port, key


class _KeyPageReader(DataSourceReader):
    """The container readers' one pager: one partition for the ``key``
    option (a container lives on one shard in any real deployment;
    multi-key reads union several loads), read in index slices of
    ``page_size`` (default ``DEFAULT_SCAN_COUNT``), one RecordBatch per
    slice built by the subclass's ``_page``, so a multi-GB container
    never materializes as one Python list in the worker. A container
    within one page by its size (``SIZE_COMMAND``) reads in one
    command, keeping the exact snapshot (round-9 ADVICE); larger ones
    trade the snapshot for bounded memory: elements added or removed
    mid-read may be missed or shifted — the same contract as SCAN
    itself."""

    PROTOCOL = 2  # the RESP version each partition's connection asks for
    SIZE_COMMAND = ""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.page_size = int(options.get("page_size", DEFAULT_SCAN_COUNT))

    def partitions(self) -> list[_SingleKeyPartition]:
        host, port = host_port_of(self.options)
        return [_SingleKeyPartition(host, port, self.options["key"])]

    def read(self, part: _SingleKeyPartition) -> Iterator[pa.RecordBatch]:
        page = max(1, self.page_size)
        with RedisClient(part.host, part.port, protocol=self.PROTOCOL) as client:
            size = int(client.command(self.SIZE_COMMAND, part.key) or 0)
            single_shot = size <= page
            start = 0
            while True:
                stop = "-1" if single_shot else str(start + page - 1)
                batch = self._page(client, part.key, start, stop)
                if not batch.num_rows:
                    return
                yield batch
                start += batch.num_rows
                if single_shot or batch.num_rows < page:
                    return


_ZSET_ARROW_SCHEMA = pa.schema(
    [
        pa.field("member", pa.string(), nullable=False),
        pa.field("score", pa.float64(), nullable=False),
        pa.field("rank", pa.int32(), nullable=False),
    ]
)


class RedisZSetReader(_KeyPageReader):
    """Paged ZRANGE WITHSCORES — the full sorted set in ascending
    (score, member) order, rank attached."""

    # ZRANGE ... WITHSCORES is the second reply this engine consumes
    # whose shape changed in RESP3: the RESP2 flat [member, score,
    # member, score, ...] bulk-string array becomes an array of
    # [member, double] PAIRS after HELLO 3. Like the hash source,
    # negotiate RESP3 (falling back to RESP2 against pre-6.0 servers)
    # and parse both shapes.
    PROTOCOL = 3
    SIZE_COMMAND = "ZCARD"

    def _page(
        self, client: RedisClient, key: str, start: int, stop: str
    ) -> pa.RecordBatch:
        reply = raise_nested(
            client.command("ZRANGE", key, str(start), stop, "WITHSCORES")
        ) or []
        if reply and isinstance(reply[0], list):  # RESP3 [member, score]
            members = [m for m, _s in reply]
            scores = [s for _m, s in reply]
        else:  # RESP2: two reply elements per member
            members, scores = reply[0::2], reply[1::2]
        return pa.RecordBatch.from_arrays(
            [
                _utf8_column(members),
                _numpy_column(
                    np.fromiter(map(float, scores), np.float64, len(scores))
                ),
                _numpy_column(
                    np.arange(start, start + len(members), dtype=np.int32)
                ),
            ],
            schema=_ZSET_ARROW_SCHEMA,
        )


class RedisZSetWriter(_PipelinedWriter):
    """One ZADD to the ``key`` option per (member, score) row. Scores
    are last-writer-wins per member and set insertion is commutative,
    so partition-parallel writes are deterministic for distinct
    members — the container whose write semantics suit a distributed
    sink best."""

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.key = options["key"]

    def _commands(self, rows) -> Iterator[tuple]:
        for row in rows:
            if row.member is None or row.score is None:
                raise ValueError(
                    "redis_zset write: NULL "
                    + ("member" if row.member is None else
                       f"score for member {row.member!r}")
                    + " — filter or fill NULLs before writing"
                )
            yield ("ZADD", self.key, repr(float(row.score)), row.member)


class RedisZSetDataSource(DataSource):
    """``spark.read.format("redis_zset").option("key", k).load()``"""

    @classmethod
    def name(cls) -> str:
        return "redis_zset"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("member", StringType(), False),
                StructField("score", DoubleType(), False),
                StructField("rank", IntegerType(), False),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisZSetReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return RedisZSetWriter(self.options)


_LIST_ARROW_SCHEMA = pa.schema(
    [
        pa.field("pos", pa.int32(), nullable=False),
        pa.field("element", pa.string(), nullable=False),
    ]
)


class RedisListReader(_KeyPageReader):
    """Paged LRANGE — the full list in insertion order with positions.
    LRANGE's reply is the same under RESP2 and RESP3, so the reader
    speaks RESP2 and sends no HELLO. Read-only source: a distributed
    RPUSH writer would interleave partitions nondeterministically, so
    list APPEND is deliberately not offered as a batch sink (use the
    stream sink for append semantics)."""

    SIZE_COMMAND = "LLEN"

    def _page(
        self, client: RedisClient, key: str, start: int, stop: str
    ) -> pa.RecordBatch:
        elems = raise_nested(
            client.command("LRANGE", key, str(start), stop)
        ) or []
        return pa.RecordBatch.from_arrays(
            [
                _numpy_column(
                    np.arange(start, start + len(elems), dtype=np.int32)
                ),
                _utf8_column(elems),
            ],
            schema=_LIST_ARROW_SCHEMA,
        )


class RedisListDataSource(DataSource):
    """``spark.read.format("redis_list").option("key", k).load()``"""

    @classmethod
    def name(cls) -> str:
        return "redis_list"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("pos", IntegerType(), False),
                StructField("element", StringType(), False),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisListReader(self.options)


from .redis_stream_source import RedisStreamDataSource  # noqa: E402

ALL_DATASOURCES = [
    RedisScanDataSource,
    RedisKVDataSource,
    RedisHashDataSource,
    RedisStreamDataSource,
    RedisZSetDataSource,
    RedisListDataSource,
]
