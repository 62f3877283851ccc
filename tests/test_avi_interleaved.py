"""Interleaved audio+video AVI codec pins (r19, VERDICT r18 task 6).

The two-stream entry composes THREE already-audited decoders — the
RIFF/LIST walk, the T.81 baseline JPEG decode per '00dc' chunk, and
the G.711 mu-law expansion over the '01wb' chunks — so these tests pin
the DEMUX composition: positional strh→strf binding, the first-'vids'
codec decision, the strict audio-format handshake, the 1:1 interleave
contract, and the position weighting that pins BOTH streams' chunk
order. The catalog entry's oracle parity is checked at the end of this
file and in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import struct

import pytest

from duckdb_redis_olap_scanner_spark.operators import jpeg as J
from duckdb_redis_olap_scanner_spark.operators import multimodal as M

from .test_avi_mjpeg import closed_form_stats

DOC_IDS = list(range(0, 24)) + [97, 211, 509]


def closed_form_av_stats(d: int) -> dict:
    """The documented synthesis contract, restated independently:
    video = the MJPEG closed form (frame f carries jid = d + 6f);
    audio = mu-law byte b_s = (d*13 + s*31) % 256 over the global
    sample index s, expanded with the standard G.711 integer formula."""
    out = dict(closed_form_stats(d))
    nf = out["n_frames"]
    audio_sum = audio_checksum = 0
    for s in range(nf * 267):
        u = 255 - ((d * 13 + s * 31) % 256)
        t = ((u % 16) * 8 + 132) << ((u // 16) % 8)
        val = 132 - t if u >= 128 else t - 132
        audio_sum += val
        audio_checksum += (s + 1) * val
    out.update(
        sample_rate=8000,
        n_audio_samples=nf * 267,
        audio_sum=audio_sum,
        audio_checksum=audio_checksum,
    )
    return out


@pytest.mark.parametrize("d", DOC_IDS)
def test_roundtrip_matches_closed_form(d):
    assert M.decode_avi_mjpeg_mulaw(
        M.encode_avi_mjpeg_mulaw_payload(d)
    ) == closed_form_av_stats(d)


def test_video_stats_match_single_stream_decode():
    """Adding the audio stream must not perturb the video statistics:
    the video columns equal the single-stream MJPEG entry's decode of
    the same doc."""
    for d in (0, 5, 11):
        av = M.decode_avi_mjpeg_mulaw(M.encode_avi_mjpeg_mulaw_payload(d))
        mj = M.decode_avi_mjpeg(M.encode_avi_mjpeg_payload(d))
        for k in mj:
            assert av[k] == mj[k], (d, k)


def test_single_stream_file_rejected():
    """A video-only MJPEG AVI has no 'auds' strl: the A/V decoder must
    refuse it (it is decode_avi_mjpeg's file), not fabricate silence."""
    with pytest.raises(ValueError, match="auds"):
        M.decode_avi_mjpeg_mulaw(M.encode_avi_mjpeg_payload(4))


def _patch_chunk(payload: bytes, fourcc: bytes, offset: int, data: bytes) -> bytes:
    at = payload.index(fourcc) + 8 + offset
    return payload[:at] + data + payload[at + len(data) :]


def test_non_mjpeg_video_rejected():
    payload = M.encode_avi_mjpeg_mulaw_payload(2)
    bad = _patch_chunk(payload, b"strh", 4, b"DIB ")
    with pytest.raises(ValueError, match="MJPEG"):
        M.decode_avi_mjpeg_mulaw(bad)


def test_non_mulaw_audio_rejected():
    """wFormatTag != 7 (e.g. 1 = linear PCM) must be refused loudly:
    feeding PCM bytes through the mu-law expansion would 'decode'
    garbage silently."""
    payload = M.encode_avi_mjpeg_mulaw_payload(2)
    # the audio strf is the second strf; patch its wFormatTag
    first = payload.index(b"strf")
    at = payload.index(b"strf", first + 1) + 8
    bad = payload[:at] + struct.pack("<H", 1) + payload[at + 2 :]
    with pytest.raises(ValueError, match="tag=1"):
        M.decode_avi_mjpeg_mulaw(bad)


def test_stereo_audio_rejected():
    payload = M.encode_avi_mjpeg_mulaw_payload(2)
    first = payload.index(b"strf")
    at = payload.index(b"strf", first + 1) + 8 + 2
    bad = payload[:at] + struct.pack("<H", 2) + payload[at + 2 :]
    with pytest.raises(ValueError, match="ch=2"):
        M.decode_avi_mjpeg_mulaw(bad)


def test_broken_interleave_rejected():
    """Dropping one audio chunk breaks the 1:1 video/audio interleave
    — must be refused, not averaged over."""
    d = 9  # nf = 3
    payload = M.encode_avi_mjpeg_mulaw_payload(d)
    at = payload.rindex(b"01wb")
    size = struct.unpack_from("<I", payload, at + 4)[0]
    drop = 8 + size + (size & 1)
    out = bytearray(payload[:at] + payload[at + drop :])
    # shrink RIFF and LIST(movi) sizes accordingly: the LIST layout is
    # 'LIST' + size + 'movi', so the size field sits 4 bytes before
    # the subtype fourcc
    struct.pack_into("<I", out, 4, struct.unpack_from("<I", out, 4)[0] - drop)
    size_at = bytes(out).index(b"movi") - 4
    struct.pack_into(
        "<I", out, size_at,
        struct.unpack_from("<I", out, size_at)[0] - drop,
    )
    with pytest.raises(ValueError, match="interleave"):
        M.decode_avi_mjpeg_mulaw(bytes(out))


def test_audio_chunk_order_is_pinned():
    """Swapping two audio chunks keeps audio_sum identical but MUST
    change audio_checksum — the (s+1) weighting over the concatenated
    stream exists exactly for reordered/duplicated/dropped chunks."""
    d = 9
    payload = M.encode_avi_mjpeg_mulaw_payload(d)
    nf = 2 + d % 4
    audio = M._av_mulaw_bytes(d, nf).tobytes()
    spf = M.AVI_AV_SAMPLES_PER_FRAME

    def chunk(body: bytes) -> bytes:
        return (
            struct.pack("<4sI", b"01wb", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    c0, c1 = audio[:spf], audio[spf : 2 * spf]
    assert c0 != c1
    swapped = payload.replace(chunk(c0), b"\x00" * len(chunk(c0)), 1)
    swapped = swapped.replace(chunk(c1), chunk(c0), 1)
    swapped = swapped.replace(b"\x00" * (8 + spf + (spf & 1)), chunk(c1), 1)
    assert swapped != payload and len(swapped) == len(payload)
    a = M.decode_avi_mjpeg_mulaw(payload)
    b = M.decode_avi_mjpeg_mulaw(swapped)
    assert a["audio_sum"] == b["audio_sum"]
    assert a["audio_checksum"] != b["audio_checksum"]
    # and the video stream is untouched by the audio swap
    assert a["frame_checksum"] == b["frame_checksum"]


def test_deeply_nested_lists_never_recurse():
    """A pathological AVI whose hdrl is buried under thousands of
    nested LISTs must not raise RecursionError: the walk is an
    iterative span stack (ADVICE r19). Built by wrapping a valid
    file's post-RIFF body in N no-op LIST shells."""
    payload = M.encode_avi_mjpeg_mulaw_payload(3)
    body = payload[12:]
    depth = 4000  # >> CPython's default recursion limit
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", len(body) + 4) + b"wrap" + body
    nested = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    assert M.decode_avi_mjpeg_mulaw(nested) == M.decode_avi_mjpeg_mulaw(
        payload
    )


def test_truncated_headers_raise_contract_valueerror():
    """avih/strf headers whose declared chunk runs past the payload
    must surface as the decoder's contract ValueError, never a raw
    struct.error escaping the Arrow map (ADVICE r19)."""
    payload = M.encode_avi_mjpeg_mulaw_payload(2)
    cuts = [
        payload.index(b"avih"),
        # the AUDIO strf (the video one is skipped by the walk)
        payload.index(b"strf", payload.index(b"strf") + 1),
    ]
    for at in cuts:
        cut = payload[: at + 10]  # keep the fourcc+size, starve the body
        with pytest.raises(ValueError):
            M.decode_avi_mjpeg_mulaw(cut)


def test_corruption_never_hangs_and_is_mostly_detected():
    """Deterministic truncations and bit/byte flips must terminate
    promptly and be DETECTED for most mutations, never loop or crash
    with a non-contract exception — the codec-fuzz pin applied to the
    three-decoder composition."""
    import random

    ok = bad = 0
    for doc_id in (3, 7):
        payload = M.encode_avi_mjpeg_mulaw_payload(doc_id)
        rng = random.Random(191 + doc_id)
        for _ in range(40):
            kind = rng.randrange(3)
            if kind == 0 and len(payload) > 4:
                mut = payload[: rng.randrange(4, len(payload))]
            else:
                i = rng.randrange(len(payload))
                b = bytearray(payload)
                if kind == 1:
                    b[i] ^= 1 << rng.randrange(8)
                else:
                    b[i] = rng.randrange(256)
                mut = bytes(b)
            try:
                M.decode_avi_mjpeg_mulaw(mut)
                ok += 1  # landed in a don't-care byte (or audio data)
            except (ValueError, NotImplementedError, struct.error,
                    AssertionError):
                bad += 1
    assert bad > ok


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_roundtrip_property_any_doc_id(d):
    """Arbitrary nonnegative ids (the 10x bench dir offsets ids by 1e9
    per replica, so the modular closed forms must hold far beyond the
    sf corpus range)."""
    assert M.decode_avi_mjpeg_mulaw(
        M.encode_avi_mjpeg_mulaw_payload(d)
    ) == closed_form_av_stats(d)


def test_queued_entry_matches_duckdb_oracle(spark):
    """The entry's Spark query vs its DuckDB oracle at sf0.001, run
    through the catalog registry (the entry was once queued outside
    it; it is a plain registered entry now), plus its output schema."""
    import duckdb

    from duckdb_redis_olap_scanner_spark.plans.catalog import registry

    from .conftest import SF_DIR

    entry = registry()["multimodal_decode_avi_interleaved"]
    sdf = entry.fn(spark, SF_DIR)
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    orows = sorted(tuple(r) for r in con.execute(entry.oracle).fetchall())
    con.close()
    assert len(srows) == len(orows) > 0
    assert srows == orows
    assert sorted(f.name for f in sdf.schema.fields) == sorted(
        [
            "doc_id", "width", "height", "n_frames", "n_blocks",
            "sum_dc", "sum_ac", "frame_checksum", "sample_rate",
            "n_audio_samples", "audio_sum", "audio_checksum",
        ]
    )
