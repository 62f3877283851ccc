"""Property-based tests (hypothesis) for the wire protocol — coverage
the reference lacks entirely (SURVEY.md §5: no parser/client unit
tests, single-recv fragmentation bug at redis_client.cpp:127-143).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_redis_olap_scanner_spark.testing import _encode
from duckdb_redis_olap_scanner_spark.transport.resp import (
    RespError,
    _parse,
    _SocketReader,
    encode_command,
)


class ChunkedFakeSocket:
    """Delivers a byte stream in caller-chosen fragment sizes —
    simulates TCP segmentation, which the parser must reassemble."""

    def __init__(self, data: bytes, cuts: list[int]) -> None:
        self.chunks = []
        prev = 0
        for c in sorted(set(min(max(c, 1), len(data)) for c in cuts)):
            if c > prev:
                self.chunks.append(data[prev:c])
                prev = c
        if prev < len(data):
            self.chunks.append(data[prev:])
        self.i = 0

    def recv(self, _n: int) -> bytes:
        if self.i >= len(self.chunks):
            return b""
        chunk = self.chunks[self.i]
        self.i += 1
        return chunk


# RESP value universe for round-trip: what _encode emits maps 1:1 back
# except bytes→str on simple strings; restrict to the asymmetry-free set.
resp_values = st.recursive(
    st.one_of(
        st.none(),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.binary(max_size=64).filter(lambda b: True),
    ),
    lambda children: st.lists(children, max_size=6),
    max_leaves=20,
)


@given(
    value=resp_values,
    cuts=st.lists(st.integers(min_value=1, max_value=10_000), max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_resp_roundtrip_survives_fragmentation(value, cuts):
    wire = _encode(value)
    reader = _SocketReader(ChunkedFakeSocket(wire, cuts))
    got = _parse(reader)
    assert got == value


# Elements of pipelined replies: bulk strings up to several times a
# recv chunk, nils, integers and error elements nested in their slots.
reply_elements = st.one_of(
    st.binary(max_size=300),
    st.none(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(alphabet="abc xyz019", max_size=12).map(
        lambda m: RespError("ERR " + m)
    ),
)
pipelined_replies = st.one_of(
    st.binary(max_size=600),
    st.lists(reply_elements, max_size=8),
    st.lists(st.lists(reply_elements, max_size=3), max_size=3),
)


def _comparable(v):
    """A parsed reply with its error elements as (tag, message)."""
    if isinstance(v, RespError):
        return ("error", str(v))
    if isinstance(v, list):
        return [_comparable(x) for x in v]
    return v


@given(replies=st.lists(pipelined_replies, min_size=1, max_size=6), data=st.data())
@settings(max_examples=300, deadline=None)
def test_pipelined_replies_survive_any_cuts(replies, data):
    """N replies sent back to back and cut at random points, CRLFs and
    payloads included: N parses on one reader return each reply in
    order and leave nothing unread."""
    wire = b"".join(_encode(r) for r in replies)
    cuts = data.draw(st.lists(st.integers(1, len(wire)), max_size=24))
    crlf_middles = [i + 1 for i in range(len(wire)) if wire.startswith(b"\r\n", i)]
    cuts += data.draw(st.lists(st.sampled_from(crlf_middles), max_size=8))
    sock = ChunkedFakeSocket(wire, cuts)
    reader = _SocketReader(sock)
    got = [_parse(reader) for _ in replies]
    assert _comparable(got) == _comparable(replies)
    assert reader._buf[reader._pos :] == b""
    assert sock.recv(1) == b""


@given(
    args=st.lists(
        st.one_of(st.text(max_size=32), st.binary(max_size=32), st.integers()),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_encode_command_parses_back(args):
    """A command encoded as a RESP array of bulk strings parses back to
    exactly its normalized (bytes) argument list."""
    wire = encode_command(*args)
    reader = _SocketReader(ChunkedFakeSocket(wire, [3, 7, 11]))
    got = _parse(reader)
    want = [
        a if isinstance(a, bytes) else str(a).encode("utf-8") for a in args
    ]
    assert got == want


# Reply elements the column builders take: bytes (non-UTF-8 among
# them), str (RESP3 map keys, decoded by _read_reply) and None, plus a
# few values larger than 64 KiB.
column_elements = st.one_of(
    st.none(),
    st.binary(max_size=12),
    st.sampled_from([b"\xff\xfe", "caf\u00e9".encode(), b"ok\x80"]),
    st.text(alphabet=st.characters(exclude_categories=["Cs"]), max_size=8),
    st.sampled_from([b"v" * 65_537, b"\xff" * 70_000, "\u00e9" * 40_000]),
)


def _rendered(v):
    """A reply element as the string column shows it."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _assert_built_like(got, want):
    got.validate(full=True)
    assert got.type == want.type
    assert got.null_count == want.null_count
    assert got.equals(want)
    # a validity bitmap only where a null needs one
    assert (got.buffers()[0] is None) == (want.null_count == 0)


@given(
    values=st.one_of(
        st.just([]),
        st.lists(st.none(), min_size=1, max_size=4),
        st.lists(column_elements, max_size=40),
    )
)
@settings(max_examples=300, deadline=None)
def test_column_builders_match_pa_array(values):
    """The buffer-built Arrow columns of the Redis readers and per-key
    UDFs equal what ``pa.array`` builds from the same elements: type,
    validity and values, non-UTF-8 bytes rendered with U+FFFD."""
    import numpy as np
    import pyarrow as pa

    from duckdb_redis_olap_scanner_spark.sources import redis_source as rs

    _assert_built_like(
        rs._utf8_column(values),
        pa.array([_rendered(v) for v in values], pa.string()),
    )
    _assert_built_like(
        rs._binary_column(values),
        pa.array([v.encode() if isinstance(v, str) else v for v in values],
                 pa.binary()),
    )
    ints = [None if v is None else len(v) - 3 for v in values]
    _assert_built_like(
        rs._numeric_column(ints, np.int64), pa.array(ints, pa.int64())
    )
    floats = [None if v is None else len(v) / 7 for v in values]
    _assert_built_like(
        rs._numeric_column(floats, np.float64), pa.array(floats, pa.float64())
    )
    _assert_built_like(
        rs._numpy_column(np.arange(5, 5 + len(values), dtype=np.int32)),
        pa.array(range(5, 5 + len(values)), pa.int32()),
    )


@given(
    replies=st.lists(
        st.one_of(
            st.none(),
            st.dictionaries(
                st.text(alphabet=st.characters(exclude_categories=["Cs"]),
                        max_size=6),
                st.binary(max_size=8),
                max_size=4,
            ),
            st.lists(st.binary(max_size=8), max_size=4).map(
                lambda fs: [x for f in fs for x in (f, f[::-1])]
            ),
        ),
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_map_column_matches_pa_array(replies):
    """HGETALL replies in either wire shape (RESP3 map, RESP2 flat
    field/value list) build the map column ``pa.array`` builds; an
    empty reply is ``{}`` and ``None`` a NULL map."""
    import pyarrow as pa

    from duckdb_redis_olap_scanner_spark.sources import redis_source as rs

    def pairs(reply):
        if reply is None:
            return None
        items = reply.items() if isinstance(reply, dict) else zip(
            reply[0::2], reply[1::2])
        return [(_rendered(f), _rendered(v)) for f, v in items]

    _assert_built_like(
        rs._map_column(replies),
        pa.array([pairs(r) for r in replies], rs._STRING_MAP),
    )


def test_column_builders_raise_an_error_element():
    """An error element in a reply raises its RespError from every
    string column build, the map's fields and values included."""
    import pytest

    from duckdb_redis_olap_scanner_spark.sources import redis_source as rs

    err = RespError("WRONGTYPE nested")
    for build, values in [
        (rs._utf8_column, [b"a", None, err]),
        (rs._utf8_column, ["k", err]),
        (rs._map_column, [[b"f", err]]),
        (rs._map_column, [{"f": b"v"}, {"g": err}]),
    ]:
        with pytest.raises(RespError) as raised:
            build(values)
        assert raised.value is err


def test_md5_hash64_matches_duckdb_on_random_strings(spark):
    """The codegen'd md5-based 64-bit hash (text.md5_hash64) must equal
    DuckDB's md5_number_lower(s) % p for arbitrary strings — the
    bit-compat contract every minhash/simhash oracle rests on. One
    batch of seeded-random strings (unicode, empties, long runs)
    through BOTH engines in a single job each."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from duckdb_redis_olap_scanner_spark.operators.text import (
        HASH_P,
        md5_hash64,
    )

    rnd = random.Random(20260813)
    alphabet = "abc XYZ0189 éüñ 中文🦆'\"\\,;\t"
    strings = [""] + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 80)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r.s: r.h
        for r in df.select("s", md5_hash64(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    want = {
        s: con.execute(
            f"SELECT CAST(md5_number_lower(?) % {HASH_P} AS BIGINT)", [s]
        ).fetchone()[0]
        for s in strings
    }
    assert got == want


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_arbitrary_images(w, h, seed):
    """PNG encode→decode is the identity for ARBITRARY pixel content
    and dimensions — far beyond the synthesis contract the oracle
    pins: every width/height combination re-partitions bytes across
    scanlines and IDAT splits, and random pixels exercise the filter
    arithmetic (incl. Paeth tie-breaks) on uncontrived values."""
    import numpy as np

    from duckdb_redis_olap_scanner_spark.operators import multimodal as M

    px = np.random.RandomState(seed % 2**31).randint(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    got, n_raw = M.decode_png(M.png_from_array(px))
    assert n_raw == h * (1 + 3 * w)
    assert (got == px).all()


# ---------------------------------------------------------------------------
# Codec round-trip properties: ANY image must survive the full VP8L
# transform surface and lossless JPEG bit-exactly
# ---------------------------------------------------------------------------


@st.composite
def _rgb_images(draw, max_side=12):
    import numpy as np

    w = draw(st.integers(1, max_side))
    h = draw(st.integers(1, max_side))
    data = draw(
        st.lists(
            st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
        )
    )
    return np.array(data, dtype=np.uint8).reshape(h, w, 3)


@given(
    px=_rgb_images(),
    cache_bits=st.integers(0, 8),
    transform=st.sampled_from(
        ["none", "subtract_green", "predictor", "color", "palette"]
    ),
    mode=st.integers(0, 13),
    meta=st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_vp8l_roundtrip_any_image_any_transform(
    px, cache_bits, transform, mode, meta
):
    import numpy as np

    from duckdb_redis_olap_scanner_spark.operators import vp8l as V

    transforms: tuple = ()
    if transform == "subtract_green":
        transforms = ("subtract_green",)
    elif transform == "predictor":
        transforms = (("predictor", 2, mode),)
    elif transform == "color":
        transforms = (("color", 2, (mode * 17, 255 - mode, mode)),)
    elif transform == "palette":
        transforms = ("palette",)
    meta_spec = (2, 2) if meta else None
    payload = V.encode_vp8l(
        px, cache_bits, transforms=transforms, meta_spec=meta_spec
    )
    out, cb = V.decode_webp(payload)
    assert cb == cache_bits
    assert np.array_equal(out, px)


@given(px=_rgb_images(), predictor=st.integers(1, 7))
@settings(max_examples=100, deadline=None)
def test_jpeg_lossless_roundtrip_any_image(px, predictor):
    import numpy as np

    from duckdb_redis_olap_scanner_spark.operators import jpeg as J

    # Build the SOF3 stream directly from the arbitrary pixels using
    # the module's own primitives (the public payload helper is bound
    # to the synthesis contract's pixel source).
    h, w, _ = px.shape
    arr = px.astype(int)
    diffs = []
    freqs: dict[int, int] = {}
    for y in range(h):
        for x in range(w):
            for c in range(3):
                pred = J._lossless_predict(arr[:, :, c], x, y, predictor)
                d = int(arr[y, x, c]) - pred
                diffs.append(d)
                s = J._category(d)
                freqs[s] = freqs.get(s, 0) + 1
    table = J._build_huffman(freqs)
    bw = J._BitWriter()
    for d in diffs:
        s = J._category(d)
        code, ln = table[s]
        bw.write(code, ln)
        if s:
            bw.write(d if d >= 0 else d + (1 << s) - 1, s)
    bw.align()
    import struct as _st

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _st.pack(">H", len(payload) + 2) + payload

    sofp = _st.pack(">BHHB", 8, h, w, 3) + b"".join(
        bytes([i + 1, 0x11, 0]) for i in range(3)
    )
    sosp = (
        bytes([3])
        + b"".join(bytes([i + 1, 0x00]) for i in range(3))
        + bytes([predictor, 0, 0])
    )
    payload = (
        b"\xff\xd8"
        + seg(0xC4, J._dht_payload(0, 0, table))
        + seg(0xC3, sofp)
        + seg(0xDA, sosp)
        + bytes(bw.out)
        + b"\xff\xd9"
    )
    out, stats = J.decode_jpeg(payload)
    assert stats["predictor"] == predictor
    assert np.array_equal(out, px)
