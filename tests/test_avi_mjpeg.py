"""MJPEG-in-AVI codec pins (r18, VERDICT r17 task 7).

The compressed-video entry composes two already-audited decoders —
the RIFF/LIST container walk and the T.81 baseline JPEG decode — so
these tests pin the COMPOSITION: the container/codec handshake
(handler fourcc, geometry agreement, frame count), the frame-order
weighting of the checksum, and the strict rejections that keep the
raw-DIB and MJPEG paths from silently accepting each other's files.
Mutation-sanity pins (the r17 codec-audit pattern) prove corrupted
payloads cannot slip through as matches.
"""

from __future__ import annotations

import struct

import pytest

from duckdb_redis_olap_scanner_spark.operators import jpeg as J
from duckdb_redis_olap_scanner_spark.operators import multimodal as M

DOC_IDS = list(range(0, 24)) + [97, 211, 509]


def closed_form_stats(d: int) -> dict:
    """The documented synthesis contract, restated: frame f carries
    the closed-form JFIF for jid = d + 6f."""
    w, h, nf = 8 * (1 + d % 3), 8 * (1 + d % 2), 2 + d % 4
    nb = (1 + d % 3) * (1 + d % 2)
    sum_dc = sum_ac = frame_checksum = 0
    for f in range(nf):
        jid = d + 6 * f
        ck = 0
        for b in range(nb):
            for c in range(3):
                q = J.quant_table(0 if c == 0 else 1)
                for z, v in J.synth_block_coefs(jid, b, c).items():
                    dq = v * q[z]
                    if z == 0:
                        sum_dc += dq
                    else:
                        sum_ac += dq
                    ck += (b * 192 + c * 64 + z + 1) * dq
        frame_checksum += (f + 1) * ck
    return {
        "width": w, "height": h, "n_frames": nf,
        "n_blocks": nf * nb * 3, "sum_dc": sum_dc, "sum_ac": sum_ac,
        "frame_checksum": frame_checksum,
    }


@pytest.mark.parametrize("d", DOC_IDS)
def test_roundtrip_matches_closed_form(d):
    assert M.decode_avi_mjpeg(M.encode_avi_mjpeg_payload(d)) == (
        closed_form_stats(d)
    )


def test_frames_share_geometry_but_not_content():
    """The +6 jid stride keeps dims constant across a doc's frames
    while the coefficients differ — decoded per-frame checksums must
    be pairwise distinct (else frame-order weighting proves nothing)."""
    payload = M.encode_avi_mjpeg_payload(7)
    frames = _movi_frames(payload)
    assert len(frames) == 2 + 7 % 4
    stats = [J.decode_jpeg(f)[1] for f in frames]
    dims = {(s["width"], s["height"]) for s in stats}
    assert len(dims) == 1
    checks = [s["coef_checksum"] for s in stats]
    assert len(set(checks)) == len(checks)


def _movi_frames(payload: bytes) -> list[bytes]:
    """Independent-of-product chunk scan: every '00dc' chunk body."""
    out, pos = [], 12
    stack = [(12, len(payload))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            if cid == b"LIST":
                stack.append((pos + 8 + size + (size & 1), end))
                pos, end = pos + 12, pos + 8 + size
                continue
            if cid == b"00dc":
                out.append(payload[pos + 8 : pos + 8 + size])
            pos += 8 + size + (size & 1)
    return out


def test_rejects_raw_dib_avi():
    with pytest.raises(ValueError, match="MJPEG stream"):
        M.decode_avi_mjpeg(M.encode_avi_payload(3))


def test_raw_decoder_rejects_mjpeg_avi():
    with pytest.raises(ValueError, match="codec"):
        M.decode_avi(M.encode_avi_mjpeg_payload(3))


def test_frame_count_mismatch_detected():
    """avih dwTotalFrames is validated against the movi stream."""
    payload = bytearray(M.encode_avi_mjpeg_payload(4))
    idx = payload.index(b"avih") + 8 + 16  # dwTotalFrames field
    (nf,) = struct.unpack_from("<I", payload, idx)
    struct.pack_into("<I", payload, idx, nf + 1)
    with pytest.raises(ValueError, match="frames"):
        M.decode_avi_mjpeg(bytes(payload))


def test_geometry_mismatch_detected():
    """A frame whose decoded dims disagree with avih must raise."""
    payload = bytearray(M.encode_avi_mjpeg_payload(4))
    idx = payload.index(b"avih") + 8 + 32  # dwWidth field
    struct.pack_into("<I", payload, idx, 999)
    with pytest.raises(ValueError, match="disagrees"):
        M.decode_avi_mjpeg(bytes(payload))


def test_frame_order_is_pinned():
    """Swapping two frame chunks keeps sum_dc/sum_ac identical but
    MUST change frame_checksum — the (f+1) weighting exists exactly
    for reordered/duplicated/dropped frames."""
    d = 9  # nf = 3, distinct frames
    payload = M.encode_avi_mjpeg_payload(d)
    f0, f1 = _movi_frames(payload)[:2]
    assert f0 != f1

    def chunk(body: bytes) -> bytes:
        return (
            struct.pack("<4sI", b"00dc", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    swapped = payload.replace(
        chunk(f0) + chunk(f1), chunk(f1) + chunk(f0)
    )
    assert swapped != payload, "swap did not apply"
    a, b = M.decode_avi_mjpeg(payload), M.decode_avi_mjpeg(swapped)
    assert (a["sum_dc"], a["sum_ac"]) == (b["sum_dc"], b["sum_ac"])
    assert a["frame_checksum"] != b["frame_checksum"]


@pytest.mark.parametrize("d", [2, 5, 11])
def test_corruption_is_detected(d):
    """Mutation-sanity (r17 codec-audit pattern): flipping one byte in
    the LAST frame's entropy-coded scan must either raise or change
    the decoded statistics — never a silent match."""
    payload = bytearray(M.encode_avi_mjpeg_payload(d))
    clean = M.decode_avi_mjpeg(bytes(payload))
    # last SOS marker, then a byte safely inside scan data
    idx = bytes(payload).rindex(b"\xff\xda") + 16
    assert payload[idx] not in (0x00, 0xFF)  # avoid marker forgery
    payload[idx] ^= 0x15
    try:
        got = M.decode_avi_mjpeg(bytes(payload))
    except Exception:
        return  # detected loudly
    assert got != clean, "corrupted scan decoded to identical stats"


def test_corruption_never_hangs_and_is_mostly_detected():
    """The sibling codec-fuzz pin (test_multimodal_codecs.py), applied
    to the composed container+codec path: deterministic truncations
    and bit/byte flips must terminate promptly and be DETECTED for
    most mutations (marker walks + strict container validation), never
    loop or crash with a non-contract exception."""
    import random

    ok = bad = 0
    for doc_id in (3, 7):
        payload = M.encode_avi_mjpeg_payload(doc_id)
        rng = random.Random(181 + doc_id)
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
                M.decode_avi_mjpeg(mut)
                ok += 1  # landed in a don't-care byte
            except (ValueError, NotImplementedError, struct.error,
                    AssertionError):
                bad += 1
    assert bad > ok


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_roundtrip_property_any_doc_id(d):
    """The fixed-id pins above cover the small residue classes; this
    widens the round-trip to arbitrary nonnegative ids (the 10x bench
    dir offsets ids by 1e9 per replica, so the modular closed forms
    must hold far beyond the sf corpus range)."""
    assert M.decode_avi_mjpeg(M.encode_avi_mjpeg_payload(d)) == (
        closed_form_stats(d)
    )


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    return (
        struct.pack("<4sI", fourcc, len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")
    )


def _lst(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def _mjpeg_avi_with_audio(doc_id: int) -> bytes:
    """The encoder's exact layout plus a SECOND stream: an 'auds' strl
    after the video strl, and one '01wb' audio chunk interleaved in
    movi — the conforming shape the pre-fix decoder rejected (last
    strh won) or mis-fed to the JPEG decoder ('00db' collected)."""
    w, h, nf = M._mjpeg_params(doc_id)
    avih = struct.pack("<14I", 33333, 0, 0, 0, nf, 0, 2, 0, w, h, 0, 0, 0, 0)
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, 30, 0, nf, 0, 0, 0, 0, 0, w, h,
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, struct.unpack("<I", b"MJPG")[0], 0, 2835, 2835, 0, 0,
    )
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 8000, 0, 0, 0,
        0, 0, 0, 0,
    )
    strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)  # PCM fmt
    hdrl = _lst(
        b"hdrl",
        _chunk(b"avih", avih)
        + _lst(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))
        + _lst(b"strl", _chunk(b"strh", strh_a) + _chunk(b"strf", strf_a)),
    )
    movi_chunks = []
    for f in range(nf):
        movi_chunks.append(
            _chunk(
                b"00dc",
                J.encode_jpeg_payload(doc_id + M.AVI_MJPEG_JID_STRIDE * f),
            )
        )
        movi_chunks.append(_chunk(b"01wb", bytes(16)))  # interleaved audio
    movi = _lst(b"movi", b"".join(movi_chunks))
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def test_decode_avi_mjpeg_tolerates_trailing_audio_stream():
    """A second (audio) strl must not overwrite the video handler, and
    '01wb' / stream-0 raw chunks must not reach the JPEG decoder: the
    two-stream file decodes to EXACTLY the single-stream stats."""
    doc_id = 7
    want = M.decode_avi_mjpeg(M.encode_avi_mjpeg_payload(doc_id))
    got = M.decode_avi_mjpeg(_mjpeg_avi_with_audio(doc_id))
    assert got == want


def test_decode_avi_mjpeg_ignores_raw_dib_chunks():
    """'00db' (stream-0 UNCOMPRESSED) chunks are not MJPEG frames; a
    stray one must not be fed to the JPEG decoder. With the fix the
    frame count check still sees exactly avih dwTotalFrames '00dc'
    frames."""
    payload = M.encode_avi_mjpeg_payload(3)
    # splice a '00db' junk chunk at the very end of movi: grow the
    # RIFF, LIST(movi) sizes by its full footprint
    junk = _chunk(b"00db", b"\x00" * 10)
    movi_at = payload.index(b"LIST", 12)
    while payload[movi_at + 8 : movi_at + 12] != b"movi":
        movi_at = payload.index(b"LIST", movi_at + 1)
    riff_size = struct.unpack_from("<I", payload, 4)[0] + len(junk)
    movi_size = struct.unpack_from("<I", payload, movi_at + 4)[0] + len(junk)
    out = bytearray(payload) + junk
    struct.pack_into("<I", out, 4, riff_size)
    struct.pack_into("<I", out, movi_at + 4, movi_size)
    want = M.decode_avi_mjpeg(payload)
    assert M.decode_avi_mjpeg(bytes(out)) == want


@pytest.mark.parametrize(
    "encode", [M.encode_avi_payload, M.encode_avi_mjpeg_payload]
)
def test_strh_scale_rate_declare_30fps(encode):
    """dwScale=1, dwRate=30 (rate/scale = fps) — consistent with avih
    dwMicroSecPerFrame=33333. The reversed pair declared 1/30 fps to
    external players."""
    payload = encode(5)
    at = payload.index(b"strh") + 8
    scale, rate = struct.unpack_from("<II", payload, at + 20)
    assert (scale, rate) == (1, 30)
