"""Third-opinion audit, batch 25 (r19): interleaved A/V AVI.

The two-stream path composes the product's RIFF walk, its T.81
decoder AND its G.711 expansion, with the synthesis side writing all
three — so a matched demux misreading (strf→stream binding, chunk id
routing, interleave accounting) or a matched companding misreading
would cancel in the oracle gate. This audit re-derives the
entry's rows with NO product decode helpers: an independent
two-stream RIFF demuxer typed from the RIFF/AVI spec (own padding and
LIST handling, own positional strh→strf binding, own per-stream chunk
routing), the batch-22 independent JPEG entropy decoder for '00dc'
frames, and an independent G.711 mu-law expansion typed from the
standard (complement, 4-bit mantissa, 3-bit exponent, bias 0x84 —
restated below, not imported) for the '01wb' chunks.

Entries audited here: multimodal_decode_avi_interleaved.
"""

from __future__ import annotations

import struct

import pytest

from duckdb_redis_olap_scanner_spark.operators import multimodal as M

from .conftest import SF_DIR
from .test_third_opinion22 import ind_decode_jpeg
from .test_third_opinion24 import closed_form_row

DOC_IDS = list(range(0, 24)) + [97, 101, 211, 509]


def ind_demux_avi(payload: bytes):
    """Independent TWO-STREAM demux: returns (avih_fields,
    stream_descs, chunks_by_id) where stream_descs is the ordered list
    of (fccType, fccHandler, strf_bytes) per strl — strf bound to the
    preceding strh positionally, as a real demuxer does — and
    chunks_by_id maps chunk fourccs ('00dc', '01wb', ...) to ordered
    payload lists."""
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    avih = None
    streams: list[list] = []  # [fccType, fccHandler, strf]
    chunks: dict[bytes, list[bytes]] = {}
    spans = [(12, 8 + struct.unpack_from("<I", payload, 4)[0])]
    while spans:
        pos, end = spans.pop()
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body_start = pos + 8
            if cid == b"LIST":
                spans.append((body_start + 4, body_start + size))
            elif cid == b"avih":
                avih = struct.unpack_from("<14I", payload, body_start)
            elif cid == b"strh":
                streams.append(
                    [
                        payload[body_start : body_start + 4],
                        payload[body_start + 4 : body_start + 8],
                        None,
                    ]
                )
            elif cid == b"strf":
                if streams and streams[-1][2] is None:
                    streams[-1][2] = payload[body_start : body_start + size]
            elif cid[2:4] in (b"dc", b"db", b"wb"):
                chunks.setdefault(cid, []).append(
                    payload[body_start : body_start + size]
                )
            pos = body_start + size + (size % 2)
    return avih, streams, chunks


def ind_mulaw_expand(b: int) -> int:
    """G.711 mu-law byte → linear sample, typed from the standard:
    complement the byte; mantissa = low 4 bits, exponent = next 3,
    sign = top bit; magnitude = ((mantissa << 3) | 0x84) << exponent,
    minus the 0x84 bias."""
    u = (~b) & 0xFF
    t = (((u & 0x0F) << 3) | 0x84) << ((u >> 4) & 0x07)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def ind_entry_row(payload: bytes) -> tuple:
    """(width, height, n_frames, n_blocks, sum_dc, sum_ac,
    frame_checksum, sample_rate, n_audio_samples, audio_sum,
    audio_checksum) — derived ONLY from the independent demux, the
    independent JPEG decode, and the independent mu-law expansion."""
    avih, streams, chunks = ind_demux_avi(payload)
    vids = [s for s in streams if s[0] == b"vids"]
    auds = [s for s in streams if s[0] == b"auds"]
    assert vids and vids[0][1] == b"MJPG"
    assert auds and auds[0][2] is not None
    fmt_tag, n_ch, rate, _bps, _align, bits = struct.unpack_from(
        "<HHIIHH", auds[0][2], 0
    )
    assert (fmt_tag, n_ch, bits) == (7, 1, 8)
    frames = chunks.get(b"00dc", [])
    audio = chunks.get(b"01wb", [])
    w, h, nf = avih[8], avih[9], avih[4]
    assert nf == len(frames) == len(audio)
    n_blocks = sum_dc = sum_ac = frame_checksum = 0
    for f, jfif in enumerate(frames):
        mode, _sof, stats, _px = ind_decode_jpeg(bytes(jfif))
        assert mode == "baseline"
        fw, fh, nb3, s_dc, s_ac, ck = stats
        assert (fw, fh) == (w, h)
        n_blocks += nb3
        sum_dc += s_dc
        sum_ac += s_ac
        frame_checksum += (f + 1) * ck
    audio_sum = audio_checksum = s = 0
    for chunk in audio:
        for b in chunk:
            val = ind_mulaw_expand(b)
            audio_sum += val
            audio_checksum += (s + 1) * val
            s += 1
    return (
        w, h, nf, n_blocks, sum_dc, sum_ac, frame_checksum,
        rate, s, audio_sum, audio_checksum,
    )


def closed_form_av_row(d: int) -> tuple:
    """The synthesis contract restated: the batch-24 video closed form
    plus the audio stream b_s = (d*13 + s*31) % 256 over
    s < nf*267, expanded with the independent formula."""
    video = closed_form_row(d)
    nf = video[2]
    audio_sum = audio_checksum = 0
    for s in range(nf * 267):
        val = ind_mulaw_expand((d * 13 + s * 31) % 256)
        audio_sum += val
        audio_checksum += (s + 1) * val
    return (*video, 8000, nf * 267, audio_sum, audio_checksum)


@pytest.mark.parametrize("d", DOC_IDS)
def test_independent_demux_matches_closed_form(d):
    payload = M.encode_avi_mjpeg_mulaw_payload(d)
    assert ind_entry_row(payload) == closed_form_av_row(d)


@pytest.fixture(scope="module")
def reg():
    from duckdb_redis_olap_scanner_spark.plans import catalog

    return catalog.registry()


def test_entry_rows_match_independent_decode(reg, spark):
    rows = {
        int(r[0]): tuple(r)
        for r in reg["multimodal_decode_avi_interleaved"]
        .fn(spark, SF_DIR).collect()
    }
    assert len(rows) > 0
    for did, row in sorted(rows.items())[:16]:
        payload = M.encode_avi_mjpeg_mulaw_payload(did)
        assert row == (did, *ind_entry_row(payload)), f"doc {did}"


@pytest.mark.parametrize("d", [3, 8])
def test_audit_has_teeth_video_corruption_is_detected(d):
    payload = bytearray(M.encode_avi_mjpeg_mulaw_payload(d))
    clean = ind_entry_row(bytes(payload))
    idx = bytes(payload).rindex(b"\xff\xda") + 16
    assert payload[idx] not in (0x00, 0xFF)
    payload[idx] ^= 0x2A
    try:
        got = ind_entry_row(bytes(payload))
    except Exception:
        return
    assert got != clean


@pytest.mark.parametrize("d", [3, 8])
def test_audit_has_teeth_audio_corruption_is_detected(d):
    """Flipping one audio byte must change the independent audio
    stats while leaving the video columns alone — proof the audit
    actually reads the '01wb' payload rather than trusting counts."""
    payload = bytearray(M.encode_avi_mjpeg_mulaw_payload(d))
    clean = ind_entry_row(bytes(payload))
    idx = bytes(payload).rindex(b"01wb") + 8 + 5
    payload[idx] ^= 0x2A
    got = ind_entry_row(bytes(payload))
    assert got[:7] == clean[:7]
    assert got[8] == clean[8]  # sample count unchanged
    assert (got[9], got[10]) != (clean[9], clean[10])
