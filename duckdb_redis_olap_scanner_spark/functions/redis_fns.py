"""Scalar function surface mirroring the reference extension's scalars.

Reference registrations (``src/redduck_extension.cpp:348-362``):

* ``redis_get(key) -> VARCHAR`` — per-row GET, one TCP round trip per row
  under a mutex (``redduck_extension.cpp:327-342``).  Here: an
  iterator-of-Arrays ``arrow_udf`` holding ONE connection per executor
  partition and issuing pipelined ``MGET`` per ``MGET_CHUNK`` rows —
  identical semantics, O(rows/chunk) round trips instead of O(rows).
  ``redis_ttl`` and ``redis_hgetall`` run the same per-key body
  (``_per_key``) with their own fetch, and every NULL key maps to NULL
  without reaching the wire. Each output column is built from buffers
  by the Redis readers' column builders (``sources.redis_source``)
  straight from the raw replies, so a UDF worker never imports
  pandas.
* ``redduck(name) -> VARCHAR`` — template demo returning
  ``"Redduck <name> 🐥"`` (``redduck_extension.cpp:17-22``).
* ``set_name(name) -> VARCHAR`` — template demo returning the constant
  ``"name is set"`` (``redduck_extension.cpp:24-40``).

Missing-key semantics: the reference coerces a missing key to ``""``
(``src/transport/redis_client.cpp:232-236``).  We surface SQL NULL by
default (the correct relational answer) and provide
``missing="empty"`` for bug-compatible behavior; tests pin both.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import LongType, MapType, StringType

from ..sources.redis_source import (
    _hgetalls,
    _map_column,
    _numeric_column,
    _utf8_column,
)
from ..transport.resp import RedisClient

# Rows per MGET pipeline call; Arrow batches are typically 10k rows, and a
# single MGET of that size is one round trip — chunk to bound reply size.
MGET_CHUNK = 2048


def _per_key(
    host: str,
    port: int,
    batches: Iterator,
    fetch: Callable[[RedisClient, list], list],
    build: Callable[[list], pa.Array],
) -> Iterator[pa.Array]:
    """The per-key UDFs' one body: one connection per executor
    partition (opened inside the iterator — sockets never pickle), and
    ``fetch(client, keys)`` once per ``MGET_CHUNK`` rows over that
    chunk's non-NULL keys, one pipelined round trip each. SQL null-in →
    null-out: a NULL key is NOT the legal Redis key "" (substituting ""
    returned that key's value and conflated NULL with missing — r14
    review), so NULL positions never reach the wire and come back
    None, which ``build`` makes a null of the output column. A batch is
    read with ``.tolist()``, which a ``pa.Array`` and a pandas Series
    both have."""
    with RedisClient(host, port) as client:
        for keys in batches:
            kl = keys.tolist()
            out: list = [None] * len(kl)
            for i in range(0, len(kl), MGET_CHUNK):
                idx = [
                    j for j in range(i, min(i + MGET_CHUNK, len(kl)))
                    if kl[j] is not None
                ]
                if idx:
                    for j, v in zip(idx, fetch(client, [kl[j] for j in idx])):
                        out[j] = v
            yield build(out)


def make_redis_get(host: str, port: int, missing: str = "null"):
    """Build a ``redis_get(col) -> string`` Arrow-vectorized UDF: one
    MGET per chunk. ``missing="empty"`` maps missing KEYS (never NULL
    ones) to ``""``."""
    if missing == "empty":
        def fetch(client, keys):
            return [b"" if v is None else v for v in client.mget_raw(keys)]
    else:
        fetch = RedisClient.mget_raw

    @arrow_udf(StringType())
    def redis_get(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        return _per_key(host, port, batches, fetch, _utf8_column)

    return redis_get


def _ttls(client: RedisClient, keys: list) -> list[int]:
    # pipeline_checked: TTL never errors on a live standalone node, but
    # a cluster reshard answers -MOVED — replayed on the target;
    # anything else raises instead of crashing int() opaquely.
    return [int(r) for r in client.pipeline_checked([("TTL", k) for k in keys])]


def make_redis_ttl(host: str, port: int):
    """Build a ``redis_ttl(key) -> long`` Arrow-vectorized UDF — the
    LongType surface SURVEY §3 reserved for the RESP integer type
    (the reference parses ``:`` replies but never exposes one to SQL).
    Redis semantics pass through untouched: seconds remaining, ``-1``
    for a key with no expiry, ``-2`` for a missing key (TTL(NULL) is
    NULL). One pipelined round trip per chunk."""

    @arrow_udf(LongType())
    def redis_ttl(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        return _per_key(
            host, port, batches, _ttls, lambda v: _numeric_column(v, np.int64)
        )

    return redis_ttl


def make_redis_hgetall(host: str, port: int):
    """Build a ``redis_hgetall(key) -> map<string,string>`` UDF: one
    pipelined HGETALL round trip per chunk; a missing key is ``{}``.

    The reference documents this as returning a STRUCT (``README.md:36-38``)
    but never implements it; MapType is the schema-free Spark analogue.
    """

    @arrow_udf(MapType(StringType(), StringType()))
    def redis_hgetall(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        return _per_key(host, port, batches, _hgetalls, _map_column)

    return redis_hgetall


def redduck(name: Column | str) -> Column:
    """``redduck(name) -> 'Redduck <name> 🐥'`` — pure column expression,
    JVM-side (no UDF needed for a concat)."""
    col = F.col(name) if isinstance(name, str) else name
    return F.concat(F.lit("Redduck "), col, F.lit(" \U0001f425"))


def set_name(name: Column | str) -> Column:  # noqa: ARG001 - parity signature
    """``set_name(name) -> 'name is set'`` — constant per row, as in the
    reference demo scalar."""
    return F.lit("name is set")
