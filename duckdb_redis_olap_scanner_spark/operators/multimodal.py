"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

Two tiers of decoding:

* REAL, dependency-free decoders for the formats whose byte math is
  deterministic: 24-bit BI_RGB **BMP**, binary **PPM (P6)**, and
  **PNG** (the spec's complete depth x color matrix — gray 1/2/4/8/16,
  palette 1/2/4/8, truecolor ± alpha 8/16 — CRC-verified chunk walk,
  multi-IDAT
  stdlib-zlib inflate, all five row filters unfiltered) images, plus
  16-bit PCM and **G.711 mu-law WAV** audio — implemented here in
  pure numpy (+stdlib zlib), no Pillow/soundfile needed. These power
  the ``multimodal_decode_bmp`` / ``_ppm`` / ``_png`` / ``_wav`` /
  ``_wav_mulaw`` catalog entries, which are exactly oracle-checked:
  the fixture payloads are synthesized from closed-form functions of
  ``doc_id``, so DuckDB can compute the expected pixel / sample
  statistics arithmetically while Spark recovers them by genuinely
  parsing the bytes (row padding, bottom-up flip, BGR→RGB, RIFF chunk
  walk, zlib inflate + unfilter, mu-law companding). A decoder bug —
  wrong stride, missed padding, swapped channels, faked inflate —
  breaks the weighted checksum and fails the hash gate.
* Codec-library formats (JPEG/WebP/FLAC/MP3/…) stay import-gated
  behind Pillow in :func:`decode_image`; ``fake_decode_features``
  remains as the length-arithmetic stand-in exercising the plumbing
  alone.

At scale: ``mapInPandas`` streams Arrow batches through the Python
worker — payload bytes never materialize on the driver, and the
operator preserves the upstream partitioning (no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# None of these codec modules import multimodal at module scope, so
# there is no cycle.
from . import flac as _flac
from . import jpeg as _jpeg
from . import gif as _gif
from . import vp8l as _vp8l

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, modality string"
)


def _try_import_pillow():
    try:
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


def decode_image(payload: bytes):
    """Image decode. Uncompressed BMP (24-bit BI_RGB), binary PPM
    (P6), PNG (8-bit truecolor, zlib is stdlib), DCT JPEG (baseline
    sequential AND progressive, any 1-2x sampling — see :mod:`.jpeg`)
    and lossless WebP (VP8L literal/cache plane — see :mod:`.vp8l`)
    are decoded HERE, dependency-free, to a top-down uint8 numpy
    array — no import gate. Remaining codec-library formats
    (arithmetic-coded JPEG, lossy/extended WebP, LZ77/transformed
    VP8L, …) fall through to Pillow, import-gated."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[: len(PNG_SIG)] == PNG_SIG:
        return decode_png(payload)[0]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        try:
            return _vp8l.decode_webp(payload)[0]
        except NotImplementedError:
            pass  # lossy / LZ77 / transforms: fall through to Pillow
    if payload[:2] == b"\xff\xd8":
        try:
            return _jpeg.decode_jpeg(payload)[0]
        except NotImplementedError:
            pass  # arithmetic/lossless modes: fall through to Pillow
    image_mod = _try_import_pillow()
    if image_mod is None:
        raise NotImplementedError(
            "codec-library image decoding (arithmetic-coded JPEG, "
            "lossy/extended WebP, ...) requires Pillow, which is not "
            "installed in this container; BMP/PPM/PNG, baseline AND "
            "progressive JPEG, and lossless WebP decode natively "
            "(decode_bmp/decode_ppm/decode_png/jpeg.decode_jpeg/"
            "vp8l.decode_webp)"
        )
    import io

    return image_mod.open(io.BytesIO(payload))


def decode_audio(payload: bytes):
    """Audio decode. RIFF/WAVE (PCM16 / mu-law / IMA ADPCM) and FLAC
    are decoded HERE, dependency-free, to (n_channels, sample_rate,
    bits, samples) — no import gate (see :func:`decode_wav` and
    :mod:`.flac`). Perceptual codecs (MP3/AAC/Vorbis) would need an
    audio library absent from this container."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == b"fLaC":
        return _flac.decode_flac(payload)
    raise NotImplementedError(
        "perceptual-audio decoding (MP3/AAC/...) requires an audio "
        "library not present in this container; PCM/mu-law/ADPCM WAV "
        "and FLAC decode natively (decode_wav, flac.decode_flac)"
    )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload column + typed metadata struct —
    the storage shape for multimodal data (bytes + sidecar metadata)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.octet_length("text").alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
            F.lit("utf-8").alias("encoding"),
        ).alias("meta"),
    )


def fake_decode_features(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in decoder: features are pure arithmetic on the
    payload length (so the pipeline is oracle-checkable end to end)."""
    for pdf in batch_iter:
        n = pdf["payload"].apply(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": (n).astype("int32"),
                "fake_width": (n % 640).astype("int32"),
                "fake_height": ((n * 7) % 480).astype("int32"),
                "modality": "image-stub",
            }
        )


def decode_stub_pipeline(docs: DataFrame) -> DataFrame:
    """binary payload → mapInPandas decode (Arrow batches) → typed features.

    The decode function is pickled by module reference, so the package
    must be importable in the Python workers — ship it for sessions
    created outside ``get_spark()`` (which exports PYTHONPATH itself).
    """
    from ..engine import ship_package

    ship_package(docs.sparkSession)
    return with_binary_payload(docs).mapInPandas(
        fake_decode_features, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = (
    "doc_id long, orig_bytes int, target_w int, target_h int, "
    "resized_bytes int, modality string"
)

FRAME_BYTES = 256
FRAME_EVERY = 4
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_off int, frame_len int"


def make_fake_resize(target_w: int, target_h: int):
    """Deterministic resize stand-in: the 'resized' payload size is the
    crop min(orig, w·h) — pure arithmetic, so DuckDB can verify the
    whole pipeline. A real implementation swaps this closure for a
    Pillow ``Image.resize`` over ``io.BytesIO(payload)`` (same mapInPandas
    signature, same schema, decode import-gated as in
    :func:`decode_image`)."""

    def fake_resize(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            n = pdf["payload"].apply(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": n.astype("int32"),
                    "target_w": pd.Series([target_w] * len(pdf), dtype="int32"),
                    "target_h": pd.Series([target_h] * len(pdf), dtype="int32"),
                    "resized_bytes": n.clip(upper=target_w * target_h).astype(
                        "int32"
                    ),
                    "modality": "image-stub",
                }
            )

    return fake_resize


def resize_stub_pipeline(
    docs: DataFrame, target_w: int = 64, target_h: int = 48
) -> DataFrame:
    """binary payload → mapInPandas resize (Arrow batches) → size metadata.
    Partition-preserving, no shuffle, payloads never leave the workers."""
    from ..engine import ship_package

    ship_package(docs.sparkSession)
    return with_binary_payload(docs).mapInPandas(
        make_fake_resize(target_w, target_h), schema=RESIZED_SCHEMA
    )


def _sample_frames(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fixed-size 'video' framing of the payload (FRAME_BYTES per frame),
    emitting every FRAME_EVERY-th frame — the frame-sampling shape: one
    input row fans out to its sampled frames, all inside the worker."""
    for pdf in batch_iter:
        doc_ids: list[int] = []
        idxs: list[int] = []
        offs: list[int] = []
        lens: list[int] = []
        for did, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            nframes = -(-n // FRAME_BYTES)
            for i in range(0, nframes, FRAME_EVERY):
                doc_ids.append(did)
                idxs.append(i)
                offs.append(i * FRAME_BYTES)
                lens.append(min(FRAME_BYTES, n - i * FRAME_BYTES))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_off": pd.Series(offs, dtype="int32"),
                "frame_len": pd.Series(lens, dtype="int32"),
            }
        )


def frame_sample_pipeline(docs: DataFrame) -> DataFrame:
    """binary payload → per-frame fan-out with sampling (mapInPandas).
    The fan-out happens inside the Arrow batch — no explode shuffle, no
    driver involvement; output volume is input/FRAME_EVERY frames."""
    from ..engine import ship_package

    ship_package(docs.sparkSession)
    return with_binary_payload(docs).mapInPandas(
        _sample_frames, schema=FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL dependency-free codecs: BMP (24-bit BI_RGB), PPM (P6), WAV (PCM16)
# ---------------------------------------------------------------------------
#
# Fixture-synthesis contract (the closed forms the catalog oracles
# compute): for a document with id ``d``
#
#   BMP/PPM image:  width  w = 4 + d % 13   (4..16 — the BMP row stride
#                   w*3 then varies mod 4, exercising padding)
#                   height h = 2 + d % 7    (2..8)
#                   pixel channel values in TOP-DOWN RGB flat order
#                   k = 0 .. w*h*3-1:   v_k = (d*7 + k) % 256
#   WAV audio:      channels ch = 1 + d % 2
#                   sample_rate sr = 8000 + (d % 3) * 4000
#                   frames f = 16 + d % 17
#                   interleaved int16 samples i = 0 .. f*ch-1:
#                   s_i = ((d*11 + i*97) % 65536) - 32768
#
# The encoders write REAL container bytes (BMP: bottom-up padded BGR
# rows; PPM: ASCII header incl. a comment line; WAV: RIFF chunk list
# incl. a LIST chunk the parser must skip). The decoders recover the
# logical arrays and report integer statistics:
#   sums per channel and checksum = sum over flat order of (k+1)*v_k
# (the position-weighted sum pins the ORDER, so any permutation —
# un-flipped rows, BGR left unswapped, padding read as pixels —
# changes the value).

IMAGE_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_bytes int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)
AUDIO_DECODED_SCHEMA = (
    "doc_id long, n_channels int, sample_rate int, bits int, "
    "n_frames int, sum_ch0 long, sum_ch1 long, checksum long"
)


def _image_dims(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 13, 2 + doc_id % 7


def _image_pixels(doc_id: int):
    """Top-down RGB uint8 array (h, w, 3) per the synthesis contract."""
    import numpy as np

    w, h = _image_dims(doc_id)
    k = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * 7 + k) % 256).astype(np.uint8).reshape(h, w, 3)


def _image_pixels_tiled(doc_id: int):
    """Top-down RGB uint8 array for the WebP (VP8L) synthesis
    contract: the same mod-256 ramp but wrapped at a per-doc vertical
    TILE period — ``val = (doc_id*7 + (k mod (w*3*tile))) % 256`` with
    ``tile = 1 + doc_id % 11`` — so rows ``y >= tile`` repeat row
    ``y - tile`` exactly. That gives the VP8L encoder genuine LZ77
    backward references at scan distance ``tile*width`` (2D-mapped
    for tile <= 7, direct distance codes past the 120-entry map for
    tile >= 8) while keeping the oracle a pure closed form. Dims are
    webp-specific (taller than the shared contract) so most docs have
    rows to copy: w in 4..16, h in 2..20."""
    import numpy as np

    w = 4 + doc_id % 13
    h = 2 + doc_id % 19
    tile = 1 + doc_id % 11
    k = np.arange(w * h * 3, dtype=np.int64)
    return (
        ((doc_id * 7 + (k % (w * 3 * tile))) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )


def packbits_encode(data: bytes) -> bytes:
    """Apple PackBits (TIFF Compression=32773): control byte n in
    0..127 copies n+1 literals; 129..255 repeats the next byte
    257-n times; 128 is a no-op. Greedy: runs of >=3 become repeat
    records, everything else literal records of <=128 bytes."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += run
        lit = data[lit_start : min(i, lit_start + 128)]
        i = lit_start + len(lit)
        out += bytes([len(lit) - 1]) + lit
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`packbits_encode`, bounded by ``expected``
    output bytes so corrupt control bytes can't balloon memory."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        c = data[i]
        i += 1
        if c == 128:  # no-op
            continue
        if c < 128:  # literal run of c+1
            if i + c + 1 > n:
                raise ValueError("PackBits literal run past end of strip")
            out += data[i : i + c + 1]
            i += c + 1
        else:  # repeat next byte 257-c times
            if i >= n:
                raise ValueError("PackBits repeat run missing byte")
            out += bytes([data[i]]) * (257 - c)
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits strip expanded to {len(out)} bytes, want {expected}"
        )
    return bytes(out)


TIFF_LZW_CLEAR, TIFF_LZW_EOI = 256, 257


def tiff_lzw_encode(data: bytes, early_change: bool = True) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first bit packing (GIF is
    LSB-first), 9-bit start, Clear=256/EOI=257, and the libtiff
    "early change" — code width bumps when the next free code reaches
    2^w - 1, one code earlier than GIF.

    ``early_change=False`` emits the LATE-change variant (PDF
    LZWDecode EarlyChange 0; what the JDK ImageIO TIFF writer
    produces) — kept encoder-side so both wild conventions round-trip
    against :func:`tiff_lzw_decode` in property tests."""
    out = bytearray()
    acc = nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(TIFF_LZW_CLEAR, width)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w = w + c
            continue
        emit(table[w], width)
        table[w + c] = next_code
        next_code += 1
        if next_code == (1 << width) - (1 if early_change else 0) \
                and width < 12:
            width += 1
        if next_code >= 4094:  # table nearly full -> clear, as libtiff
            emit(TIFF_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w], width)
    emit(TIFF_LZW_EOI, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def tiff_lzw_decode(
    data: bytes, expected: int, early_change: bool = True
) -> bytes:
    """Inverse of :func:`tiff_lzw_encode`, bounded by ``expected``
    output bytes. The decoder's string table lags the encoder's by one
    entry (the first code after Clear appends nothing), so its early
    change fires at 2^w - 2 where the encoder's fires at 2^w - 1.

    ``early_change=False`` reads streams whose encoder switched code
    width one code LATER than the TIFF 6.0 / libtiff convention —
    the variant PDF's LZWDecode calls ``EarlyChange 0`` and what the
    JDK's ImageIO TIFF writer emits (verified against a
    com.sun.imageio-encoded strip in tests/test_external_vectors.py).
    The two conventions are locally indistinguishable — misreading
    shows up later as an out-of-table code or a wrong expansion
    length — so :func:`decode_tiff` tries the spec convention first
    and retries with the late variant on failure, like permissive
    real-world readers. That detection is a heuristic with no
    sound alternative: TIFF carries no payload checksum, so a
    late-change strip whose early-convention misread happens to emit
    exactly the expected byte count through valid codes would pass
    undetected — astronomically unlikely (every post-boundary code
    must stay in-table AND the lengths must land exactly), and a
    limitation every permissive LZW reader shares."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, acc, nacc, pos = 9, 0, 0, 0
    prev: bytes | None = None

    def read_code() -> int | None:
        nonlocal acc, nacc, pos
        while nacc < width:
            if pos >= len(data):
                return None
            acc = (acc << 8) | data[pos]
            pos += 1
            nacc += 8
        nacc -= width
        return (acc >> nacc) & ((1 << width) - 1)

    while True:
        code = read_code()
        if code is None:
            raise ValueError("TIFF LZW stream ended without EOI")
        if code == TIFF_LZW_EOI:
            break
        if code == TIFF_LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width, prev = 9, None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError(
                    "TIFF LZW: first code after clear not a literal"
                )
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW: code beyond table")
        out += entry
        if len(out) > expected:
            raise ValueError("TIFF LZW output exceeds strip size")
        prev = entry
        if len(table) == (1 << width) - (2 if early_change else 1) \
                and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(
            f"TIFF LZW expanded to {len(out)} bytes, want {expected}"
        )
    return bytes(out)


def _tiff_predict2(strip: bytes, width: int) -> bytes:
    """Apply horizontal differencing (Predictor tag 317 = 2) to whole
    RGB rows: each byte minus the same channel's byte one pixel left,
    mod 256 — the standard pairing with LZW that turns smooth
    gradients into near-zero runs."""
    import numpy as np

    arr = np.frombuffer(strip, dtype=np.uint8).reshape(-1, width, 3)
    d = arr.astype(np.int16)
    d[:, 1:, :] = (d[:, 1:, :] - d[:, :-1, :]) % 256
    return d.astype(np.uint8).tobytes()


def _tiff_unpredict2(strip: bytes, width: int, channels: int = 3) -> bytes:
    """Undo horizontal differencing: per-row per-channel cumulative
    sum mod 256. ``channels`` follows SamplesPerPixel — the predictor
    differences against the same channel one pixel left, so RGBA
    strips difference with stride 4 (TIFF 6.0 §14)."""
    import numpy as np

    arr = np.frombuffer(strip, dtype=np.uint8).reshape(-1, width, channels)
    return (
        np.cumsum(arr.astype(np.int64), axis=1) % 256
    ).astype(np.uint8).tobytes()


def encode_tiff_payload(doc_id: int) -> bytes:
    """A real baseline TIFF for the synthesis-contract pixels: one IFD
    carrying the nine baseline tags (width/length, 8-8-8
    BitsPerSample, Photometric=RGB, SamplesPerPixel=3) and MULTIPLE
    strips (RowsPerStrip = 1 + doc_id % 3), so strip assembly —
    offsets and byte counts read through their LONG arrays — is
    exercised, not just a single blob. The variant rotates per doc
    (doc_id % 8): II/MM byte order x none/PackBits/LZW/deflate
    compression — the axes real-world scanners vary most — so both
    byte orders and all three strip codecs are pinned by the stream
    itself; LZW and deflate variants carry Predictor=2 (horizontal
    differencing), its standard pairing."""
    import struct
    import zlib

    endian = "<" if doc_id % 2 == 0 else ">"
    variant = doc_id % 8
    compression = {2: 32773, 3: 32773, 4: 5, 5: 5, 6: 8, 7: 8}.get(variant, 1)
    px = _image_pixels(doc_id)
    h, w, _ = px.shape
    rps = 1 + doc_id % 3
    strips = [
        px[y : y + rps].tobytes() for y in range(0, h, rps)
    ]
    if compression == 32773:
        strips = [packbits_encode(s) for s in strips]
    elif compression == 5:
        strips = [tiff_lzw_encode(_tiff_predict2(s, w)) for s in strips]
    elif compression == 8:
        strips = [zlib.compress(_tiff_predict2(s, w)) for s in strips]
    n_strips = len(strips)

    # Layout: header(8) + IFD + [bits array][offsets][counts] + strips
    n_tags = 9 + (1 if compression in (5, 8) else 0)  # +Predictor
    ifd_off = 8
    ifd_size = 2 + n_tags * 12 + 4
    bits_off = ifd_off + ifd_size
    offs_off = bits_off + 6
    cnts_off = offs_off + 4 * n_strips
    data_off = cnts_off + 4 * n_strips
    strip_offs = []
    pos = data_off
    for sdata in strips:
        strip_offs.append(pos)
        pos += len(sdata)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack(f"{endian}HHII", tag, typ, count, value)

    def entry_short1(tag: int, value: int) -> bytes:
        # Inline SHORT values sit LEFT-JUSTIFIED in the 4-byte value
        # slot — under MM that is the HIGH-order half, not a 32-bit
        # integer (TIFF 6.0 §2, the classic big-endian pitfall).
        return struct.pack(f"{endian}HHIHH", tag, 3, 1, value, 0)

    entries = [
        entry(256, 4, 1, w),              # ImageWidth
        entry(257, 4, 1, h),              # ImageLength
        entry(258, 3, 3, bits_off),       # BitsPerSample -> offset
        entry_short1(259, compression),   # Compression
        entry_short1(262, 2),             # Photometric: RGB
        entry(273, 4, n_strips,
              strip_offs[0] if n_strips == 1 else offs_off),
        entry_short1(277, 3),             # SamplesPerPixel
        entry(278, 4, 1, rps),            # RowsPerStrip
        entry(279, 4, n_strips,
              len(strips[0]) if n_strips == 1 else cnts_off),
    ]
    if compression in (5, 8):
        entries.append(entry_short1(317, 2))  # Predictor: horizontal
    magic = b"II" if endian == "<" else b"MM"
    out = bytearray(struct.pack(f"{endian}2sHI", magic, 42, ifd_off))
    out += struct.pack(f"{endian}H", n_tags)
    for e in entries:
        out += e
    out += struct.pack(f"{endian}I", 0)  # no next IFD
    out += struct.pack(f"{endian}HHH", 8, 8, 8)
    out += b"".join(struct.pack(f"{endian}I", o) for o in strip_offs)
    out += b"".join(struct.pack(f"{endian}I", len(sd)) for sd in strips)
    for sdata in strips:
        out += sdata
    return bytes(out)


def decode_tiff(payload: bytes):
    """Parse a baseline TIFF (II little-endian OR MM big-endian,
    chunky 8-bit RGB, or RGBA via ExtraSamples when fully opaque)
    into (top-down RGB uint8 array (h, w, 3), n_strips, byte_order,
    compression) — dependency-free: header + IFD walk,
    inline-vs-offset tag values with spec-correct LEFT-JUSTIFIED
    inline SHORTs (TIFF 6.0 §2), multi-strip assembly via
    StripOffsets/ByteCounts. Natively decoded Compression values:
    1 (uncompressed), 32773 (PackBits, per strip), 5 (LZW with
    Predictor 2 horizontal differencing), and 8/32946 (zlib deflate).
    JPEG-in-TIFF and CCITT compressions, paletted, planar, tiled, and
    translucent-alpha variants raise loudly."""
    import struct

    import numpy as np

    if payload[:2] == b"II":
        endian, byte_order = "<", "II"
    elif payload[:2] == b"MM":
        endian, byte_order = ">", "MM"
    else:
        raise ValueError("not a TIFF: bad header")
    if struct.unpack_from(f"{endian}H", payload, 2)[0] != 42:
        raise ValueError("not a TIFF: bad header")
    (ifd_off,) = struct.unpack_from(f"{endian}I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset out of range")
    (n_tags,) = struct.unpack_from(f"{endian}H", payload, ifd_off)
    if ifd_off + 2 + n_tags * 12 > len(payload):
        raise ValueError("TIFF IFD runs past end of file")
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + i * 12
        tag, typ, count = struct.unpack_from(f"{endian}HHI", payload, off)
        # The 4-byte value slot: inline values are left-justified, so
        # an inline SHORT is the first H (high half under MM), while
        # LONGs and offsets use the whole I.
        tags[tag] = (typ, count, off + 8)

    def values(tag: int, default=None) -> list[int]:
        if tag not in tags:
            if default is not None:
                return default
            raise ValueError(f"TIFF missing required tag {tag}")
        typ, count, slot = tags[tag]
        if typ == 3:  # SHORT
            if count <= 2:
                return [
                    struct.unpack_from(f"{endian}H", payload, slot + 2 * i)[0]
                    for i in range(count)
                ]
            (ptr,) = struct.unpack_from(f"{endian}I", payload, slot)
            return [
                struct.unpack_from(f"{endian}H", payload, ptr + 2 * i)[0]
                for i in range(count)
            ]
        if typ == 4:  # LONG
            if count == 1:
                return [struct.unpack_from(f"{endian}I", payload, slot)[0]]
            (ptr,) = struct.unpack_from(f"{endian}I", payload, slot)
            return [
                struct.unpack_from(f"{endian}I", payload, ptr + 4 * i)[0]
                for i in range(count)
            ]
        raise ValueError(f"unsupported TIFF tag type {typ} for {tag}")

    w = values(256)[0]
    h = values(257)[0]
    compression = values(259, [1])[0]
    if compression not in (1, 32773, 5, 8, 32946):
        raise NotImplementedError(
            "JPEG-in-TIFF/CCITT need a codec library; uncompressed, "
            "PackBits, LZW, and deflate decode natively"
        )
    predictor = values(317, [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(
            "only Predictor 1 (none) / 2 (horizontal) supported"
        )
    if values(262)[0] != 2:
        raise NotImplementedError("non-RGB TIFF photometric unsupported")
    # SamplesPerPixel 3 (RGB) or 4 (RGBA with an ExtraSamples tag —
    # the shape real-world encoders emit for logo/screenshot TIFFs).
    # The engine's decode contract serves opaque RGB (same as
    # decode_webp), so a fourth channel is accepted through the whole
    # strip/predictor machinery and then REQUIRED to be fully opaque:
    # translucent pixels raise rather than silently dropping alpha.
    spp = values(277, [1])[0]
    if spp not in (3, 4) or values(258, [1])[:spp] != [8] * spp:
        raise NotImplementedError("only 8-bit chunky RGB(A) TIFF supported")
    if spp == 4 and 338 not in tags:
        raise NotImplementedError(
            "4 samples/pixel without ExtraSamples is not RGBA"
        )
    offs = values(273)
    cnts = values(279)
    if len(offs) != len(cnts):
        raise ValueError("TIFF strip offset/count arrays disagree")
    rps = values(278, [h])[0]
    if rps < 1:
        raise ValueError("TIFF RowsPerStrip must be positive")
    raw = bytearray()
    for i, (o, c) in enumerate(zip(offs, cnts)):
        if o + c > len(payload):
            raise ValueError("TIFF strip outside file")
        strip = payload[o : o + c]
        rows = min(rps, h - i * rps)
        want = rows * w * spp
        if compression == 32773:
            strip = packbits_decode(strip, want)
        elif compression == 5:
            try:
                strip = tiff_lzw_decode(strip, want)
            except ValueError:
                # Late width-change streams (JDK ImageIO, PDF
                # EarlyChange 0) — see tiff_lzw_decode.
                strip = tiff_lzw_decode(strip, want, early_change=False)
        elif compression in (8, 32946):  # Adobe / legacy deflate
            import zlib

            try:
                strip = zlib.decompress(strip, bufsize=max(0, want))
            except zlib.error as e:
                raise ValueError(f"TIFF deflate strip corrupt: {e}")
            if len(strip) != want:
                raise ValueError(
                    f"TIFF deflate strip expanded to {len(strip)} "
                    f"bytes, want {want}"
                )
        if predictor == 2:
            if len(strip) != want:
                raise ValueError("TIFF predictor needs whole rows")
            strip = _tiff_unpredict2(strip, w, spp)
        raw += strip
    if len(raw) != w * h * spp:
        raise ValueError(
            f"TIFF strips hold {len(raw)} bytes, want {w * h * spp}"
        )
    px = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, spp)
    if spp == 4:
        if not (px[:, :, 3] == 255).all():
            raise ValueError(
                "non-opaque RGBA TIFF unsupported (the decode contract "
                "serves opaque RGB, as decode_webp)"
            )
        px = px[:, :, :3]
    return (px, len(offs), byte_order, compression)


TIFF_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_strips int, "
    "byte_order string, compression int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def decode_tiff_features(media: DataFrame) -> DataFrame:
    """REAL TIFF decode over a binary column: IFD walk + multi-strip
    assembly (PackBits-expanded where Compression=32773), then the
    BMP-style exact pixel statistics plus the strip count, byte order
    and compression read back from the STREAM (ceil(h / (1 + doc%3)),
    II/MM by doc parity, PackBits on doc_id%4>=2 by synthesis —
    pinning that RowsPerStrip, the endianness switch, and the strip
    codec were all honored)."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, n_strips, byte_order, compression = decode_tiff(
                    bytes(payload)
                )
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, int(n_strips),
                        byte_order, int(compression),
                        int(flat[0::3].sum()),
                        int(flat[1::3].sum()),
                        int(flat[2::3].sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_strips",
                         "byte_order", "compression",
                         "sum_r", "sum_g", "sum_b", "checksum"],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("n_strips", "int32"),
                         ("compression", "int32"),
                         ("sum_r", "int64"), ("sum_g", "int64"),
                         ("sum_b", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=TIFF_DECODED_SCHEMA)


def encode_bmp_payload(doc_id: int) -> bytes:
    """A real 24-bit uncompressed (BI_RGB) BMP file: 14-byte file
    header + 40-byte BITMAPINFOHEADER + bottom-up BGR pixel rows each
    padded to a 4-byte boundary."""
    import struct

    import numpy as np

    px = _image_pixels(doc_id)
    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    body = rows[::-1].tobytes()  # bottom-up row order
    data_off = 14 + 40
    file_size = data_off + len(body)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + body


def encode_ppm_payload(doc_id: int) -> bytes:
    """A real binary PPM (P6): ASCII header with a comment line the
    parser must skip, then raw top-down RGB bytes (no padding)."""
    px = _image_pixels(doc_id)
    h, w, _ = px.shape
    header = f"P6\n#synth\n{w} {h}\n255\n".encode("ascii")
    return header + px.tobytes()


def _audio_params(doc_id: int) -> tuple[int, int, int]:
    return 1 + doc_id % 2, 8000 + (doc_id % 3) * 4000, 16 + doc_id % 17


def _audio_samples(doc_id: int):
    """Interleaved int16 samples per the synthesis contract."""
    import numpy as np

    ch, _sr, f = _audio_params(doc_id)
    i = np.arange(f * ch, dtype=np.int64)
    return (((doc_id * 11 + i * 97) % 65536) - 32768).astype(np.int16)


def encode_wav_payload(doc_id: int) -> bytes:
    """A real RIFF/WAVE file: fmt chunk (PCM, 16-bit), a LIST junk
    chunk (odd-sized, so the parser must honor even-padding), then the
    data chunk with interleaved little-endian int16 samples."""
    import struct

    ch, sr, _f = _audio_params(doc_id)
    data = _audio_samples(doc_id).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
    junk = b"INFOsynthetic"  # 13 bytes: odd, exercises pad byte
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"LIST", len(junk))
        + junk
        + b"\x00"  # pad to even
        + struct.pack("<4sI", b"data", len(data))
        + data
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def decode_bmp(payload: bytes):
    """Parse a 24-bit BI_RGB BMP into a top-down RGB uint8 array
    (h, w, 3) — dependency-free (numpy only). Handles positive
    (bottom-up) and negative (top-down) heights and per-row 4-byte
    padding; rejects anything compressed or non-24-bit loudly."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP: missing 'BM' magic")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (planes={planes}, bpp={bpp}, "
            f"compression={compression}): only uncompressed 24-bit "
            "BI_RGB is decodable without a codec library"
        )
    top_down = h_raw < 0
    h = abs(h_raw)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3]
    if not top_down:
        rows = rows[::-1]
    return rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB


def decode_ppm(payload: bytes):
    """Parse a binary PPM (P6) into a top-down RGB uint8 array
    (h, w, 3), honoring whitespace and '#' comment lines in the
    header per the netpbm spec."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM: missing 'P6' magic")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPMs supported, got {maxval}")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE file into (n_channels, sample_rate, bits,
    samples[int16 interleaved]) — dependency-free. Walks the chunk
    list (honoring the even-padding rule) so files with extra
    LIST/fact chunks parse correctly. Natively decoded formats:
    PCM16 and PCM24 (format 1), G.711 mu-law (7) and A-law (6), and
    mono/stereo IMA ADPCM (17). Anything else raises loudly."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    fmt_raw = b""
    data = None
    fact_samples = None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos)
            fmt_raw = payload[pos : pos + size]
        elif cid == b"data":
            data = payload[pos : pos + size]
        elif cid == b"fact":
            (fact_samples,) = struct.unpack_from("<I", payload, pos)
        pos += size + (size & 1)  # chunks are even-padded
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, ch, sr, _byte_rate, block_align, bits = fmt
    if audio_format == 7 and bits == 8:
        # G.711 mu-law: expand each byte to its linear 16-bit sample
        # with the standard integer formula (see mulaw_expand).
        enc = np.frombuffer(data, dtype=np.uint8)
        return ch, sr, bits, mulaw_expand(enc).astype(np.int16)
    if audio_format == 6 and bits == 8:
        # G.711 A-law: the companion integer expansion (alaw_expand).
        enc = np.frombuffer(data, dtype=np.uint8)
        return ch, sr, bits, alaw_expand(enc).astype(np.int16)
    if audio_format == 17 and bits == 4 and ch in (1, 2):
        # IMA/DVI ADPCM: per-block predictor header(s) + 4-bit deltas
        # through the step-table state machine; stereo interleaves
        # 4-byte nibble groups per channel.
        if len(fmt_raw) >= 20:
            (spb,) = struct.unpack_from("<H", fmt_raw, 18)
        else:
            spb = (block_align - 4 * ch) * 2 // ch + 1
        if ch == 2:
            if fact_samples is None:
                raise ValueError(
                    "stereo IMA ADPCM needs a fact chunk (padded "
                    "groups make the frame count ambiguous otherwise)"
                )
            return ch, sr, bits, adpcm_expand_stereo(
                data, spb, fact_samples
            )
        n_total = (
            fact_samples
            if fact_samples is not None
            else _adpcm_capacity(len(data), block_align, spb)
        )
        return ch, sr, bits, adpcm_expand(data, spb, n_total)
    if audio_format == 1 and bits == 24:
        # 24-bit PCM: 3-byte little-endian two's-complement samples,
        # widened via a zero low byte + arithmetic int32 shift.
        raw = np.frombuffer(data, dtype=np.uint8)
        if raw.size % 3:
            raise ValueError("24-bit PCM data not a multiple of 3 bytes")
        b = raw.reshape(-1, 3).astype(np.uint32)
        u = (b[:, 0] << 8) | (b[:, 1] << 16) | (b[:, 2] << 24)
        return ch, sr, bits, (u.astype(np.int32) >> 8)
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits}): "
            "only 16/24-bit PCM, 8-bit G.711, and IMA ADPCM are "
            "decodable without a codec library"
        )
    return ch, sr, bits, np.frombuffer(data, dtype="<i2")


def synthesize_media(docs: DataFrame, kind: str) -> DataFrame:
    """(doc_id, payload binary, meta struct): real container bytes
    synthesized deterministically from doc_id (see the module-level
    contract) in one Arrow-batched mapInPandas — the write side of the
    multimodal plumbing. kind in {'bmp', 'ppm', 'wav'}."""
    from ..engine import ship_package

    encode_jpeg_payload = _jpeg.encode_jpeg_payload
    _encode_flac = _flac.encode_flac_payload
    _encode_webp = _vp8l.encode_webp_payload

    enc = {
        "bmp": encode_bmp_payload,
        "ppm": encode_ppm_payload,
        "wav": encode_wav_payload,
        "png": lambda did: encode_png_payload(did),
        "wav_mulaw": lambda did: encode_wav_mulaw_payload(did),
        "wav_alaw": lambda did: encode_wav_alaw_payload(did),
        "wav24": lambda did: encode_wav_pcm24_payload(did),
        "avi": lambda did: encode_avi_payload(did),
        "jpeg": lambda did: encode_jpeg_payload(did),
        "jpeg420": lambda did: encode_jpeg_payload(did, "420"),
        "jpeg_prog": lambda did: encode_jpeg_payload(did, "prog"),
        "wav_adpcm": lambda did: encode_wav_adpcm_payload(did),
        "wav_adpcm_stereo":
            lambda did: encode_wav_adpcm_stereo_payload(did),
        "flac": _encode_flac,
        "webp": _encode_webp,
        "jpeg_lossless": lambda did: _jpeg.encode_jpeg_lossless_payload(did),
        "gif": lambda did: _gif.encode_gif_payload(did),
        "tiff": lambda did: encode_tiff_payload(did),
    }[kind]
    mime = {"bmp": "image/bmp", "ppm": "image/x-portable-pixmap",
            "wav": "audio/wav", "png": "image/png",
            "wav_mulaw": "audio/wav", "wav_alaw": "audio/wav",
            "wav24": "audio/wav",
            "avi": "video/x-msvideo",
            "jpeg": "image/jpeg", "jpeg420": "image/jpeg",
            "jpeg_prog": "image/jpeg", "jpeg_lossless": "image/jpeg",
            "gif": "image/gif", "tiff": "image/tiff",
            "wav_adpcm": "audio/wav", "wav_adpcm_stereo": "audio/wav",
            "flac": "audio/flac",
            "webp": "image/webp"}[kind]

    def _synth(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            payloads = [enc(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                    "mime": mime,
                }
            )

    ship_package(docs.sparkSession)
    return docs.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary, mime string"
    )


def _decode_image_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    rows = []
    for did, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = bytes(payload)
        px = (
            decode_bmp(payload)
            if payload[:2] == b"BM"
            else decode_ppm(payload)
        )
        h, w, _ = px.shape
        flat = px.reshape(-1).astype(np.int64)
        rows.append(
            (
                int(did),
                w,
                h,
                len(payload),
                int(flat[0::3].sum()),
                int(flat[1::3].sum()),
                int(flat[2::3].sum()),
                int(((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "doc_id", "width", "height", "n_bytes",
            "sum_r", "sum_g", "sum_b", "checksum",
        ],
    )
    for c, t in (("doc_id", "int64"), ("width", "int32"),
                 ("height", "int32"), ("n_bytes", "int32"),
                 ("sum_r", "int64"), ("sum_g", "int64"),
                 ("sum_b", "int64"), ("checksum", "int64")):
        out[c] = out[c].astype(t)
    return out


def decode_image_features(media: DataFrame) -> DataFrame:
    """REAL image decode over a binary column: parse each BMP/PPM
    payload (numpy, no codec library) and emit integer pixel
    statistics — per-channel sums over the recovered top-down RGB
    array plus the position-weighted checksum that pins row order,
    padding handling, and channel order. Narrow Arrow-batched map;
    payloads never leave the workers."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            yield _decode_image_batch(pdf)

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=IMAGE_DECODED_SCHEMA)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode over a binary column: walk the RIFF chunk
    list, extract the PCM16 samples, and emit integer sample
    statistics (per-channel sums over de-interleaved channels and the
    position-weighted checksum over the interleaved stream)."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                ch, sr, bits, samples = decode_audio(bytes(payload))
                s = samples.astype(np.int64)
                rows.append(
                    (
                        int(did), ch, sr, bits, len(s) // ch,
                        int(s[0::ch].sum()),
                        int(s[1::ch].sum()) if ch > 1 else 0,
                        int(((np.arange(s.size, dtype=np.int64) + 1) * s).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_channels", "sample_rate", "bits",
                    "n_frames", "sum_ch0", "sum_ch1", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("n_channels", "int32"),
                         ("sample_rate", "int32"), ("bits", "int32"),
                         ("n_frames", "int32"), ("sum_ch0", "int64"),
                         ("sum_ch1", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AUDIO_DECODED_SCHEMA)


def decode_media_pipeline(docs: DataFrame, kind: str) -> DataFrame:
    """documents → synthesize real container bytes → REAL decode →
    integer stats. Two chained Arrow-batched narrow maps (the binary
    column crosses an Arrow boundary between them); no shuffle, no
    driver materialization — the 100 TB shape for media feature
    extraction."""
    media = synthesize_media(docs, kind)
    if kind in ("wav", "wav_mulaw", "wav_alaw", "wav24", "wav_adpcm",
                "wav_adpcm_stereo", "flac"):
        return decode_audio_features(media)
    if kind == "png":
        return decode_png_features(media)
    if kind == "webp":
        return decode_webp_features(media)
    if kind == "jpeg_lossless":
        return decode_jpeg_lossless_features(media)
    if kind == "gif":
        return decode_gif_features(media)
    if kind == "tiff":
        return decode_tiff_features(media)
    if kind == "avi":
        return decode_avi_features(media)
    if kind in ("jpeg", "jpeg420", "jpeg_prog"):
        return _jpeg.decode_jpeg_features(media)
    return decode_image_features(media)


# ---------------------------------------------------------------------------
# Feature extraction ON the decoded arrays (real media math)
# ---------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = (
    "doc_id long, pooled_w int, pooled_h int, "
    "gray_sum long, pooled_sum long, pooled_checksum long"
)

# Audio framing parameters (sized so every synthesized clip, 16..32
# channel-0 samples, yields >= 3 full windows).
AUDIO_FRAME_WIN = 8
AUDIO_FRAME_HOP = 4

AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_ch0 int, n_win int, "
    "total_abs long, energy_checksum long"
)


def image_features(media: DataFrame) -> DataFrame:
    """Classic integer image features computed ON the decoded pixel
    array: BT.601 grayscale ((299·R + 587·G + 114·B) // 1000,
    truncating) and 2×2 average pooling (sum of the four grays // 4,
    odd edges dropped) — the downsample step of any vision-model
    preprocessing pipeline, done in real pixel math rather than a
    stand-in. Emits the grayscale total, the pooled total, and a
    position-weighted pooled checksum that pins the pooling geometry
    (a transposed or mis-strided pool cannot hash-match).

    Same scale shape as the decode: one more numpy step inside the
    same Arrow-batched narrow map."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                px = (
                    decode_bmp(payload)
                    if payload[:2] == b"BM"
                    else decode_ppm(payload)
                ).astype(np.int64)
                h, w, _ = px.shape
                gray = (
                    299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
                ) // 1000
                ph, pw = h // 2, w // 2
                g = gray[: ph * 2, : pw * 2]
                pooled = (
                    g[0::2, 0::2] + g[0::2, 1::2]
                    + g[1::2, 0::2] + g[1::2, 1::2]
                ) // 4
                flat = pooled.reshape(-1)
                rows.append(
                    (
                        int(did), pw, ph,
                        int(gray.sum()),
                        int(flat.sum()),
                        int(((np.arange(flat.size) + 1) * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "pooled_w", "pooled_h",
                    "gray_sum", "pooled_sum", "pooled_checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("pooled_w", "int32"),
                         ("pooled_h", "int32"), ("gray_sum", "int64"),
                         ("pooled_sum", "int64"),
                         ("pooled_checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=IMAGE_FEATURES_SCHEMA)


def audio_frame_energy(media: DataFrame) -> DataFrame:
    """Short-time energy over the decoded PCM stream: channel 0 is
    framed (window AUDIO_FRAME_WIN, hop AUDIO_FRAME_HOP, full windows
    only) and each frame's sum of |sample| is computed — the framing
    primitive under every audio feature (RMS/VAD/fbank). Emits the
    channel-0 sample count, window count, total |sample| mass, and a
    frame-order-weighted checksum pinning the hop geometry."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                ch, _sr, _bits, samples = decode_wav(bytes(payload))
                s0 = np.abs(samples.astype(np.int64))[0::ch]
                n0 = len(s0)
                nw = (
                    (n0 - AUDIO_FRAME_WIN) // AUDIO_FRAME_HOP + 1
                    if n0 >= AUDIO_FRAME_WIN
                    else 0
                )
                energies = np.array(
                    [
                        int(
                            s0[
                                j * AUDIO_FRAME_HOP : j * AUDIO_FRAME_HOP
                                + AUDIO_FRAME_WIN
                            ].sum()
                        )
                        for j in range(nw)
                    ],
                    dtype=np.int64,
                )
                rows.append(
                    (
                        int(did), n0, nw,
                        int(s0.sum()),
                        int(((np.arange(nw) + 1) * energies).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_ch0", "n_win",
                    "total_abs", "energy_checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("n_ch0", "int32"),
                         ("n_win", "int32"), ("total_abs", "int64"),
                         ("energy_checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# PNG: real COMPRESSED-format decode (zlib is stdlib — no codec library)
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_raw int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


# Adam7 pass geometry: (x0, dx, y0, dy) per pass — pass p covers
# pixels (x0 + j*dx, y0 + i*dy), each pass serialized as its own
# mini-image (own filter bytes, own prior-row state).
ADAM7_PASSES = [
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
]


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(pass_width, pass_height) per Adam7 pass; empty passes (small
    images) are (0, 0)-dimensional and contribute zero scanlines."""
    return [
        (max(0, (w - x0 + dx - 1) // dx), max(0, (h - y0 + dy - 1) // dy))
        for x0, dx, y0, dy in ADAM7_PASSES
    ]


def encode_png_payload(doc_id: int) -> bytes:
    """A real PNG file (8-bit truecolor RGB) for the
    synthesis-contract pixels of ``doc_id`` — see
    :func:`png_from_array` for the container/filter layout. Every
    third doc is Adam7-INTERLACED (seven sub-image passes), the rest
    sequential, so both IHDR interlace modes live in the corpus."""
    return png_from_array(_image_pixels(doc_id), adam7=doc_id % 3 == 0)


def _filter_scanlines(raw) -> bytearray:
    """Serialize a (rows, width*3) int64 array as PNG scanlines where
    row y uses filter type ``y % 5`` — all five PNG filters
    (None/Sub/Up/Average/Paeth) appear on any image with >= 5 rows,
    so a decoder that fakes an unfilter path cannot round-trip."""
    import numpy as np

    bpp = 3
    n_rows, rowbytes = raw.shape
    out = bytearray()
    prior = np.zeros(rowbytes, dtype=np.int64)
    for y in range(n_rows):
        row = raw[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
        upleft = np.concatenate(
            [np.zeros(bpp, dtype=np.int64), prior[:-bpp]]
        )
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prior
        elif f == 3:
            filt = row - (left + prior) // 2
        else:  # Paeth
            p = left + prior - upleft
            pa, pb, pc = abs(p - left), abs(p - prior), abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, upleft)
            )
            filt = row - pred
        out.append(f)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = row
    return out


def png_from_array(px, adam7: bool = False) -> bytes:
    """Encode ANY top-down RGB uint8 array (h, w, 3) as a real PNG:
    zlib-compressed scanlines with the y%5 filter cycle (see
    :func:`_filter_scanlines`). With ``adam7=True`` the seven
    interlace passes are each filtered as their own mini-image
    (per-pass prior-row reset, empty passes skipped) and
    concatenated before compression, per the spec. The IDAT stream
    is split into TWO chunks (decoders must concatenate before
    inflating) and every chunk carries its real CRC-32."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = px.shape
    bpp = 3
    raw = px.reshape(h, w * bpp).astype(np.int64)
    if adam7:
        out = bytearray()
        for x0, dx, y0, dy in ADAM7_PASSES:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[0], sub.shape[1]
            if ph == 0 or pw == 0:
                continue
            out.extend(
                _filter_scanlines(sub.reshape(ph, pw * bpp).astype(np.int64))
            )
    else:
        out = _filter_scanlines(raw)
    comp = zlib.compress(bytes(out), 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if adam7 else 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:17])
        + _png_chunk(b"IDAT", comp[17:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Parse a PNG (8-bit truecolor RGB, sequential or
    Adam7-interlaced) into a top-down RGB uint8 array (h, w, 3) —
    dependency-free (stdlib zlib + numpy). A full container parse:
    signature, chunk walk with CRC-32 verification, multi-IDAT
    concatenation, zlib inflate, row UNFILTERING for all five PNG
    filter types, and (interlace=1) seven-pass Adam7 deinterlacing
    with per-pass filter state and empty-pass handling. Returns
    (array, n_raw) where n_raw is the decompressed scanline byte
    count, proving decompression actually ran. Anything paletted or
    non-8-bit raises loudly."""
    import struct
    import zlib

    import numpy as np

    if payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = len(PNG_SIG)
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length % 3 or not 3 <= length <= 768:
                raise ValueError(f"PNG PLTE length {length} invalid")
            palette = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp_m, filt_m, interlace = ihdr
    # Every color type decodes through the same filter machinery —
    # PNG filters operate on BYTES with the left-neighbor distance
    # rounded UP to one byte (spec §6), so 16-bit samples widen it,
    # sub-byte rows use distance 1, and sample assembly (big-endian
    # pair recombination, MSB-first bit unpacking, PLTE lookup)
    # happens after unfiltering. The full spec matrix of depth ×
    # color combinations is accepted: gray 1/2/4/8/16, palette
    # 1/2/4/8, truecolor and the alpha types 8/16.
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    spec_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                   4: (8, 16), 6: (8, 16)}
    if (
        channels is None
        or depth not in spec_depths[color]
        or (comp_m, filt_m) != (0, 0)
        or interlace > 1
    ):
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, "
            f"interlace={interlace}): outside the PNG spec's "
            "depth x color matrix"
        )
    if color == 3 and palette is None:
        raise ValueError("paletted PNG missing its PLTE chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from None
    fbpp = max(1, channels * depth // 8)

    def row_bytes(width: int) -> int:
        return -(-width * channels * depth // 8)

    if interlace == 0:
        stride = 1 + row_bytes(w)
        if len(raw) != h * stride:
            raise ValueError(
                f"PNG scanline stream is {len(raw)} bytes, "
                f"want {h * stride}"
            )
        lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        out = _unfilter_scanlines(lines, row_bytes(w), fbpp)
        arr = _png_rows_to_pixels(out, w, channels, depth)
        return _png_finish(arr, color, depth, palette), len(raw)
    # Adam7: seven sub-images back to back, each with its own filter
    # bytes and prior-row state, deinterlaced onto the pixel grid.
    dims = _adam7_pass_dims(w, h)
    want = sum(ph * (1 + row_bytes(pw)) for pw, ph in dims if pw and ph)
    if len(raw) != want:
        raise ValueError(
            f"PNG Adam7 scanline stream is {len(raw)} bytes, want {want}"
        )
    nb = channels * (depth // 8) if depth >= 8 else 1
    full = np.zeros((h, w, nb), dtype=np.uint8)
    pos = 0
    for (x0, dx, y0, dy), (pw, ph) in zip(ADAM7_PASSES, dims):
        if pw == 0 or ph == 0:
            continue
        stride = 1 + row_bytes(pw)
        lines = np.frombuffer(
            raw[pos : pos + ph * stride], dtype=np.uint8
        ).reshape(ph, stride)
        pos += ph * stride
        sub = _unfilter_scanlines(lines, row_bytes(pw), fbpp)
        full[y0::dy, x0::dx] = _png_rows_to_pixels(sub, pw, channels, depth)
    return _png_finish(full, color, depth, palette), len(raw)


def _png_rows_to_pixels(rows, width: int, channels: int, depth: int):
    """Post-unfilter sample assembly per scanline block: (n_rows,
    row_bytes) bytes → (n_rows, width, n) pixel bytes. depth >= 8 is a
    reshape; sub-byte depths unpack MSB-first (spec §7.2) and keep raw
    sample values (0..2^depth-1, no rescaling — documented)."""
    import numpy as np

    a = rows.astype(np.uint8)
    if depth >= 8:
        return a.reshape(a.shape[0], width, channels * (depth // 8))
    bits = np.unpackbits(a, axis=1)[:, : width * depth]
    grouped = bits.reshape(a.shape[0], width, depth).astype(np.uint8)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grouped * weights).sum(axis=2, dtype=np.int64).astype(
        np.uint8
    )[..., None]


def _png_finish(arr, color: int, depth: int, palette):
    """Post-filter sample assembly: recombine 16-bit big-endian byte
    pairs into a uint16 (h, w, channels) grid, or map a (h, w, 1)
    palette-index grid through the PLTE to (h, w, 3) RGB uint8."""
    import numpy as np

    if depth == 16:
        h, w, nb = arr.shape
        pairs = arr.reshape(h, w, nb // 2, 2).astype(np.uint16)
        return pairs[..., 0] * 256 + pairs[..., 1]
    if color != 3:
        return arr
    n = len(palette) // 3
    idx = arr[..., 0]
    if int(idx.max(initial=0)) >= n:
        raise ValueError(
            f"PNG palette index {int(idx.max())} outside the "
            f"{n}-entry PLTE"
        )
    table = np.frombuffer(palette, dtype=np.uint8).reshape(n, 3)
    return table[idx]


def _unfilter_scanlines(lines, n_bytes: int, bpp: int = 3):
    """Reverse the five PNG row filters over a (rows, 1 + n_bytes)
    uint8 scanline block with left-neighbor distance ``bpp`` bytes;
    returns (rows, n_bytes) int64."""
    import numpy as np

    n_rows = lines.shape[0]
    out = np.zeros((n_rows, n_bytes), dtype=np.int64)
    prior = np.zeros(n_bytes, dtype=np.int64)
    for y in range(n_rows):
        f = int(lines[y, 0])
        cur = lines[y, 1:].astype(np.int64)
        if f == 0:
            row = cur
        elif f == 2:
            row = (cur + prior) % 256
        elif f in (1, 3, 4):
            # Left-referencing filters are inherently sequential per
            # pixel; widths here are tiny, and a real-scale decoder
            # would vectorize per color plane.
            row = np.zeros(n_bytes, dtype=np.int64)
            for x in range(n_bytes):
                left = row[x - bpp] if x >= bpp else 0
                up = prior[x]
                upleft = prior[x - bpp] if x >= bpp else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc else (
                        up if pb <= pc else upleft
                    )
                row[x] = (cur[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = row
        prior = row
    return out


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode over a binary column: full PNG
    container parse (CRC walk, multi-IDAT inflate, five-filter
    unfiltering) and the same integer pixel statistics as the
    BMP/PPM twins, plus n_raw — the decompressed byte count the
    oracle can compute in closed form (h*(1+3w)) while the
    compressed payload size cannot be."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, n_raw = decode_png(bytes(payload))
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, n_raw,
                        int(flat[0::3].sum()),
                        int(flat[1::3].sum()),
                        int(flat[2::3].sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_raw",
                    "sum_r", "sum_g", "sum_b", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("n_raw", "int32"),
                         ("sum_r", "int64"), ("sum_g", "int64"),
                         ("sum_b", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=PNG_DECODED_SCHEMA)


GIF_DECODED_SCHEMA = (
    "doc_id long, width int, height int, table_n int, interlaced boolean, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def decode_gif_features(media: DataFrame) -> DataFrame:
    """REAL GIF decode over a binary column: container walk, LZW
    decompression across sub-block boundaries, color-table lookup,
    4-pass deinterlace (every second doc) — then the BMP-style exact
    pixel statistics, plus the color-table size (the next power of two
    above w*h distinct contract colors) and the interlace flag read
    back from the stream. See operators/gif.py."""
    from ..engine import ship_package

    decode_gif = _gif.decode_gif

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, table_n, interlaced = decode_gif(bytes(payload))
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, int(table_n), bool(interlaced),
                        int(flat[0::3].sum()),
                        int(flat[1::3].sum()),
                        int(flat[2::3].sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "table_n", "interlaced",
                    "sum_r", "sum_g", "sum_b", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("table_n", "int32"),
                         ("interlaced", "bool"),
                         ("sum_r", "int64"), ("sum_g", "int64"),
                         ("sum_b", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=GIF_DECODED_SCHEMA)


JPEG_LOSSLESS_DECODED_SCHEMA = (
    "doc_id long, width int, height int, predictor int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def decode_jpeg_lossless_features(media: DataFrame) -> DataFrame:
    """REAL lossless-JPEG (SOF3) decode over a binary column:
    predictive DPCM with the scan-selected predictor, Huffman-coded
    difference categories, byte unstuffing — and because the format
    is LOSSLESS, the oracle is the exact closed-form pixel statistics
    (same as BMP/PPM), with the predictor byte read back from the
    stream (1 + doc_id % 7 by synthesis) pinning that the SOS header
    was parsed. See operators/jpeg.py."""
    from ..engine import ship_package

    decode_jpeg = _jpeg.decode_jpeg

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, st = decode_jpeg(bytes(payload))
                if st.get("mode") != "lossless":
                    raise ValueError("expected a lossless (SOF3) stream")
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, int(st["predictor"]),
                        int(flat[0::3].sum()),
                        int(flat[1::3].sum()),
                        int(flat[2::3].sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "predictor",
                    "sum_r", "sum_g", "sum_b", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("predictor", "int32"),
                         ("sum_r", "int64"), ("sum_g", "int64"),
                         ("sum_b", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=JPEG_LOSSLESS_DECODED_SCHEMA)


WEBP_DECODED_SCHEMA = (
    "doc_id long, width int, height int, cache_bits int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def decode_webp_features(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode over a binary column: lossless
    WebP (VP8L) — canonical prefix codes transmitted through the
    code-length code, the color cache, the subtract-green transform —
    and the same integer pixel statistics as the BMP/PPM/PNG twins,
    plus the cache_bits the decoder recovered from the stream (closed
    form: 1 + doc_id % 6, pinning that the cache config was actually
    parsed). See operators/vp8l.py for the supported surface."""
    from ..engine import ship_package

    decode_webp = _vp8l.decode_webp

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, cache_bits = decode_webp(bytes(payload))
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, cache_bits,
                        int(flat[0::3].sum()),
                        int(flat[1::3].sum()),
                        int(flat[2::3].sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "cache_bits",
                    "sum_r", "sum_g", "sum_b", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("cache_bits", "int32"),
                         ("sum_r", "int64"), ("sum_g", "int64"),
                         ("sum_b", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=WEBP_DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# G.711 mu-law: real COMPRESSED-audio decode (pure integer expansion)
# ---------------------------------------------------------------------------


def _mulaw_samples(doc_id: int):
    """Encoded mu-law BYTES per the synthesis contract: b_i =
    (doc_id*13 + i*31) % 256 — the payload is the ground truth, so no
    (lossy) encoder is needed; the oracle expands the same closed form
    with the same integer formula the decoder uses."""
    import numpy as np

    ch, _sr, f = _audio_params(doc_id)
    i = np.arange(f * ch, dtype=np.int64)
    return ((doc_id * 13 + i * 31) % 256).astype(np.uint8)


def encode_wav_mulaw_payload(doc_id: int) -> bytes:
    """A real RIFF/WAVE G.711 mu-law file: fmt chunk with
    audio_format=7, 8 bits/sample, then the encoded byte stream."""
    import struct

    ch, sr, _f = _audio_params(doc_id)
    data = _mulaw_samples(doc_id).tobytes()
    fmt = struct.pack("<HHIIHH", 7, ch, sr, sr * ch, ch, 8)
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def _pcm24_samples(doc_id: int):
    """Signed 24-bit samples per the synthesis contract:
    s_i = ((doc_id*29 + i*5999471) % 16777216) - 8388608 — the large
    odd stride wraps the full 24-bit range within one clip, so both
    sign regions and all three bytes vary."""
    import numpy as np

    ch, _sr, f = _audio_params(doc_id)
    i = np.arange(f * ch, dtype=np.int64)
    return ((doc_id * 29 + i * 5999471) % 16777216) - 8388608


def encode_wav_pcm24_payload(doc_id: int) -> bytes:
    """A real RIFF/WAVE 24-bit PCM file: format 1, 3-byte
    little-endian two's-complement samples."""
    import struct

    import numpy as np

    ch, sr, _f = _audio_params(doc_id)
    vals = (_pcm24_samples(doc_id) & 0xFFFFFF).astype(np.uint32)
    data = np.stack(
        [vals & 0xFF, (vals >> 8) & 0xFF, (vals >> 16) & 0xFF], axis=1
    ).astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 3, ch * 3, 24)
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def _alaw_samples(doc_id: int):
    """Encoded A-law BYTES per the synthesis contract: b_i =
    (doc_id*19 + i*23) % 256 — like the mu-law twin, the payload IS
    the ground truth; the oracle expands the same closed form with
    the same integer formula."""
    import numpy as np

    ch, _sr, f = _audio_params(doc_id)
    i = np.arange(f * ch, dtype=np.int64)
    return ((doc_id * 19 + i * 23) % 256).astype(np.uint8)


def encode_wav_alaw_payload(doc_id: int) -> bytes:
    """A real RIFF/WAVE G.711 A-law file: fmt chunk with
    audio_format=6, 8 bits/sample, then the encoded byte stream."""
    import struct

    ch, sr, _f = _audio_params(doc_id)
    data = _alaw_samples(doc_id).tobytes()
    fmt = struct.pack("<HHIIHH", 6, ch, sr, sr * ch, ch, 8)
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def alaw_expand(enc):
    """G.711 A-law byte → linear 16-bit sample, the standard integer
    expansion (XOR 0x55, 4-bit mantissa, 3-bit segment): seg 0 →
    t = m*16 + 8; seg ≥ 1 → t = (m*16 + 0x108) << (seg-1); the sign
    bit (untouched by the 0x55 toggle) selects ±t. Landmarks:
    0x55/0xD5 → ∓8, 0x2A/0xAA → ∓32256 full scale. Pure integer —
    the oracle evaluates the identical formula in SQL."""
    import numpy as np

    a = enc.astype(np.int64) ^ 0x55
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    t = np.where(
        seg == 0,
        mant * 16 + 8,
        np.left_shift(mant * 16 + 0x108, np.maximum(seg - 1, 0)),
    )
    return np.where(a & 0x80, t, -t)


def mulaw_expand(enc):
    """G.711 mu-law byte → linear 16-bit sample, the standard integer
    expansion (complement, 4-bit mantissa, 3-bit exponent, bias 0x84):
    t = ((u & 0x0F) << 3 | 0x84) << exp; sample = ±(t - 0x84). Pure
    integer — the oracle evaluates the identical formula in SQL."""
    import numpy as np

    u = (~enc.astype(np.int64)) & 0xFF
    t = np.left_shift((u & 0x0F) * 8 + 0x84, (u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM: real STATEFUL compressed-audio decode. The standard
# public step/index tables; the catalog oracle replays the identical
# state machine as a DuckDB RECURSIVE CTE, so even a codec whose output
# is a recurrence (not a per-byte formula) stays exactly hash-gated.
# ---------------------------------------------------------------------------

IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]

# Synthesis contract: mono, 17 samples per block (the canonical
# block_align=12 layout: 4-byte header holding sample 0 + step index,
# then 16 nibbles, two per byte low-first). Per doc_id d:
#   n_samples     = 16 + d % 33              (1..3 blocks, last partial)
#   block b head: samp0 = ((d*11 + b*29) % 65536) - 32768
#                 idx0  = (d + b*7) % 89
#   nibble for global sample s (s % 17 != 0): (d*7 + s*13) % 16
ADPCM_SPB = 17


def _adpcm_params(doc_id: int) -> tuple[int, int]:
    return 8000 + (doc_id % 3) * 4000, 16 + doc_id % 33


def _adpcm_block_header(doc_id: int, b: int) -> tuple[int, int]:
    return ((doc_id * 11 + b * 29) % 65536) - 32768, (doc_id + b * 7) % 89


def _adpcm_nibble(doc_id: int, s: int) -> int:
    return (doc_id * 7 + s * 13) % 16


def _adpcm_capacity(n_bytes: int, block_align: int, spb: int) -> int:
    full, rem = divmod(n_bytes, block_align)
    n = full * spb
    if rem >= 4:
        n += 1 + (rem - 4) * 2
    return n


def encode_wav_adpcm_payload(doc_id: int) -> bytes:
    """A real RIFF/WAVE IMA ADPCM (format 17) file: fmt chunk with the
    wSamplesPerBlock extension, a fact chunk carrying the true sample
    count (the partial last block would otherwise be ambiguous), and
    per-block [samp0:int16, idx:u8, reserved:u8] headers followed by
    packed 4-bit deltas, low nibble first."""
    import struct

    sr, n = _adpcm_params(doc_id)
    body = bytearray()
    s = 0
    b = 0
    while s < n:
        samp0, idx = _adpcm_block_header(doc_id, b)
        body += struct.pack("<hBB", samp0, idx, 0)
        s += 1
        k = min(ADPCM_SPB, n - s + 1) - 1  # nibbles in this block
        nibs = [_adpcm_nibble(doc_id, s + j) for j in range(k)]
        if k % 2:
            nibs.append(0)  # pad nibble (fact chunk bounds the decode)
        for j in range(0, len(nibs), 2):
            body.append(nibs[j] | (nibs[j + 1] << 4))
        s += k
        b += 1
    block_align = 4 + ADPCM_SPB // 2
    fmt = struct.pack(
        "<HHIIHHHH", 17, 1, sr, sr * block_align // ADPCM_SPB,
        block_align, 4, 2, ADPCM_SPB,
    )
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sII", b"fact", 4, n)
        + struct.pack("<4sI", b"data", len(body)) + bytes(body)
        + (b"\x00" if len(body) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def _adpcm_stereo_header(doc_id: int, b: int, c: int) -> tuple[int, int]:
    return (
        ((doc_id * 11 + b * 29 + c * 17) % 65536) - 32768,
        (doc_id + b * 7 + c * 3) % 89,
    )


def _adpcm_stereo_nibble(doc_id: int, s: int, c: int) -> int:
    return (doc_id * 7 + s * 13 + c * 5) % 16


def encode_wav_adpcm_stereo_payload(doc_id: int) -> bytes:
    """A real STEREO RIFF/WAVE IMA ADPCM (format 17, nChannels=2)
    file: per block, one 4-byte [pred:int16, idx:u8, rsvd:u8] header
    PER CHANNEL, then the data region interleaved in 4-byte words per
    channel (8 nibbles ch0, 8 nibbles ch1, ...), low nibble first —
    the standard stereo IMA layout. block_align 24 = 8 header bytes +
    two 4-byte groups per channel (spb 17 per channel); the fact
    chunk carries the true per-channel frame count so the padded last
    block stays unambiguous."""
    import struct

    sr, n = _adpcm_params(doc_id)  # n = frames per channel
    body = bytearray()
    s = 0
    b = 0
    while s < n:
        for c in (0, 1):
            samp0, idx = _adpcm_stereo_header(doc_id, b, c)
            body += struct.pack("<hBB", samp0, idx, 0)
        s += 1
        k = min(ADPCM_SPB, n - s + 1) - 1  # nibbles per channel
        groups = (k + 7) // 8
        for g in range(groups):
            for c in (0, 1):
                nibs = [
                    _adpcm_stereo_nibble(doc_id, s + g * 8 + j, c)
                    if g * 8 + j < k
                    else 0
                    for j in range(8)
                ]
                for j in range(0, 8, 2):
                    body.append(nibs[j] | (nibs[j + 1] << 4))
        s += k
        b += 1
    block_align = 8 + 2 * ((ADPCM_SPB - 1) // 2)  # 24
    fmt = struct.pack(
        "<HHIIHHHH", 17, 2, sr, sr * block_align // ADPCM_SPB,
        block_align, 4, 2, ADPCM_SPB,
    )
    chunks = (
        struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sII", b"fact", 4, n)
        + struct.pack("<4sI", b"data", len(body)) + bytes(body)
        + (b"\x00" if len(body) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def _ima_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM state-machine step (shared by the mono and
    stereo expanders): returns (new_pred, new_idx)."""
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_ADJUST[nib & 7]))
    return pred, idx


def adpcm_expand_stereo(data: bytes, spb: int, n_frames: int):
    """Stereo IMA ADPCM block stream → int16 INTERLEAVED samples
    (L0, R0, L1, R1, ...): per block, one header per channel, then
    4-byte nibble groups alternating channels; each channel runs its
    own independent state machine."""
    import struct

    import numpy as np

    out = np.empty(n_frames * 2, dtype=np.int16)
    pos = 0
    s = 0  # frames emitted
    while s < n_frames:
        state = []
        for c in (0, 1):
            pred, idx = struct.unpack_from("<hB", data, pos + 4 * c)
            if not 0 <= idx <= 88:
                raise ValueError(f"ADPCM step index {idx} out of range")
            out[2 * s + c] = pred
            state.append((pred, idx))
        pos += 8
        s += 1
        k = min(spb, n_frames - s + 1) - 1  # nibbles per channel
        groups = (k + 7) // 8
        for g in range(groups):
            for c in (0, 1):
                pred, idx = state[c]
                chunk = data[pos : pos + 4]
                if len(chunk) < 4:
                    raise ValueError("ADPCM stereo block truncated")
                for j in range(8):
                    t = g * 8 + j
                    if t >= k:
                        break
                    byte = chunk[j // 2]
                    nib = (byte & 0x0F) if j % 2 == 0 else (byte >> 4)
                    pred, idx = _ima_step(pred, idx, nib)
                    out[2 * (s + t) + c] = pred
                state[c] = (pred, idx)
                pos += 4
        s += k
    return out


def adpcm_expand(data: bytes, spb: int, n_total: int):
    """Mono IMA ADPCM block stream → int16 samples: per block, emit the
    header sample, then walk the nibble state machine (step-table
    index and predictor clamped exactly as the spec's reference
    decoder). Sequential by nature — each sample depends on the last —
    but blocks are tiny and the Arrow map keeps whole payloads
    per-worker, so the sequentiality never crosses rows."""
    import struct

    import numpy as np

    out = np.empty(n_total, dtype=np.int16)
    pos = 0
    s = 0
    while s < n_total:
        pred, idx = struct.unpack_from("<hB", data, pos)
        if not 0 <= idx <= 88:
            raise ValueError(f"ADPCM step index {idx} out of range")
        out[s] = pred
        s += 1
        k = min(spb, n_total - s + 1) - 1
        for j in range(k):
            byte = data[pos + 4 + j // 2]
            nib = (byte & 0x0F) if j % 2 == 0 else (byte >> 4)
            step = IMA_STEP_TABLE[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + IMA_INDEX_ADJUST[nib & 7]))
            out[s] = pred
            s += 1
        pos += 4 + (k + 1) // 2
    return out


RESIZE_TW = 3
RESIZE_TH = 2

RESIZE_REAL_SCHEMA = (
    "doc_id long, src_w int, src_h int, dst_w int, dst_h int, "
    "resized_sum long, resized_checksum long"
)


def image_resize_nearest(
    media: DataFrame, tw: int = RESIZE_TW, th: int = RESIZE_TH
) -> DataFrame:
    """REAL resize on the decoded pixels (upgrading the arithmetic
    resize stand-in): nearest-neighbor downscale of the recovered RGB
    array with pure integer index math — src_x = dst_x * src_w // dst_w
    (top-left convention, exactly mirrored by the SQL oracle) — then
    integer statistics over the resized array, position-weighted so the
    sampling GEOMETRY (which source pixel each destination cell takes)
    is pinned, not just the value multiset. One more numpy step inside
    the same narrow Arrow map as the decode; payloads never leave the
    workers."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                px = (
                    decode_bmp(payload)
                    if payload[:2] == b"BM"
                    else decode_ppm(payload)
                    if payload[:2] == b"P6"
                    else decode_png(payload)[0]
                )
                h, w, _ = px.shape
                ys = (np.arange(th, dtype=np.int64) * h) // th
                xs = (np.arange(tw, dtype=np.int64) * w) // tw
                small = px[np.ix_(ys, xs)].astype(np.int64)
                flat = small.reshape(-1)
                rows.append(
                    (
                        int(did), w, h, tw, th,
                        int(flat.sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "dst_w", "dst_h",
                    "resized_sum", "resized_checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("src_w", "int32"),
                         ("src_h", "int32"), ("dst_w", "int32"),
                         ("dst_h", "int32"), ("resized_sum", "int64"),
                         ("resized_checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=RESIZE_REAL_SCHEMA)


# ---------------------------------------------------------------------------
# AVI: real VIDEO container decode (RIFF walk, raw DIB frames)
# ---------------------------------------------------------------------------

AVI_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, n_sampled int, "
    "sum_all long, sampled_sum long, checksum long"
)


def _video_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) per the synthesis contract."""
    w, h = _image_dims(doc_id)
    return w, h, 2 + doc_id % 4


def _video_pixels(doc_id: int):
    """Top-down RGB uint8 array (n_frames, h, w, 3): frame f pixel k =
    (doc_id*7 + f*131 + k) % 256."""
    import numpy as np

    w, h, nf = _video_params(doc_id)
    f = np.arange(nf, dtype=np.int64)[:, None]
    k = np.arange(w * h * 3, dtype=np.int64)[None, :]
    return (
        ((doc_id * 7 + f * 131 + k) % 256).astype(np.uint8)
        .reshape(nf, h, w, 3)
    )


def encode_avi_payload(doc_id: int) -> bytes:
    """A real uncompressed AVI file: RIFF('AVI ') containing a
    LIST('hdrl') with the avih main header (width/height/frame count)
    and a LIST('strl') stream header, then a LIST('movi') whose
    '00db' chunks carry raw DIB frames — which, per the AVI/DIB
    convention, are BOTTOM-UP BGR rows padded to 4 bytes, exactly the
    BMP body layout the image decoder already handles."""
    import struct

    import numpy as np

    frames = _video_pixels(doc_id)
    nf, h, w, _ = frames.shape
    stride = (w * 3 + 3) // 4 * 4

    def dib(frame):
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = frame[:, :, ::-1].reshape(h, w * 3)
        return rows[::-1].tobytes()

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return (
            struct.pack("<4sI", fourcc, len(data))
            + data
            + (b"\x00" if len(data) & 1 else b"")
        )

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<14I", 33333, 0, 0, 0, nf, 0, 1, 0, w, h, 0, 0, 0, 0
    )
    # dwScale=1, dwRate=30: rate/scale = 30 fps, matching avih
    # dwMicroSecPerFrame=33333
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 30, 0, nf, stride * h, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_avi(payload: bytes):
    """Parse an uncompressed AVI into a top-down RGB uint8 array
    (n_frames, h, w, 3) — dependency-free. A real container parse:
    RIFF walk, LIST recursion to find avih (frame geometry) and the
    movi chunk stream, then per-frame DIB decoding (bottom-up BGR
    padded rows → top-down RGB). Rejects compressed streams loudly."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    avih = None
    frames: list[bytes] = []
    compression = None

    def walk(start: int, end: int) -> None:
        nonlocal avih, compression
        pos = start
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            data_start = pos + 8
            if cid == b"LIST":
                walk(data_start + 4, data_start + size)
            elif cid == b"avih":
                avih = struct.unpack_from("<14I", payload, data_start)
            elif cid == b"strh":
                compression = payload[data_start + 4 : data_start + 8]
            elif cid in (b"00db", b"00dc"):
                frames.append(payload[data_start : data_start + size])
            pos = data_start + size + (size & 1)

    walk(12, len(payload))
    if avih is None:
        raise ValueError("AVI missing avih header")
    if compression not in (b"DIB ", b"RGB ", None):
        raise ValueError(
            f"unsupported AVI stream codec {compression!r}: only raw "
            "DIB frames are decodable without a codec library"
        )
    w, h = avih[8], avih[9]
    stride = (w * 3 + 3) // 4 * 4
    out = []
    for body in frames:
        rows = np.frombuffer(
            body, dtype=np.uint8, count=stride * h
        ).reshape(h, stride)[:, : w * 3]
        out.append(rows[::-1].reshape(h, w, 3)[:, :, ::-1])
    return np.stack(out) if out else np.zeros((0, h, w, 3), np.uint8)


AVI_SAMPLE_EVERY = 2


def decode_avi_features(media: DataFrame) -> DataFrame:
    """REAL video decode over a binary column: full AVI container
    parse, then per-frame integer statistics — total pixel sum, the
    sum over every-2nd-frame SAMPLES (the frame-sampling primitive on
    real frames), and a global position-weighted checksum over
    (frame, pixel) flat order that pins frame ORDER as well as each
    frame's geometry."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                fr = decode_avi(bytes(payload))
                nf, h, w, _ = fr.shape
                flat = fr.reshape(-1).astype(np.int64)
                sampled = fr[::AVI_SAMPLE_EVERY].reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h, nf,
                        (nf + AVI_SAMPLE_EVERY - 1) // AVI_SAMPLE_EVERY,
                        int(flat.sum()),
                        int(sampled.sum()),
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_frames", "n_sampled",
                    "sum_all", "sampled_sum", "checksum",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("n_frames", "int32"),
                         ("n_sampled", "int32"), ("sum_all", "int64"),
                         ("sampled_sum", "int64"), ("checksum", "int64")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AVI_DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# AVI + MJPEG: COMPRESSED video (RIFF walk over per-frame JFIF streams)
# ---------------------------------------------------------------------------

AVI_MJPEG_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, n_blocks int, "
    "sum_dc long, sum_ac long, frame_checksum long"
)

# Frame f of doc d carries the closed-form JFIF for jid = d + 6*f:
# the +6 stride preserves jid % 3 and jid % 2, so every frame of one
# doc shares synth_dims(d) (the avih geometry) and the DRI on/off
# choice, while the coefficient content differs per frame. n_frames
# matches the uncompressed-AVI contract (2 + d % 4).
AVI_MJPEG_JID_STRIDE = 6


def _mjpeg_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of the MJPEG synthesis contract —
    JPEG synth dims (one 8x8 block per MCU), video frame count."""
    w, h = _jpeg.synth_dims(doc_id)
    return w, h, 2 + doc_id % 4


def encode_avi_mjpeg_payload(doc_id: int) -> bytes:
    """A real MOTION-JPEG AVI: the same RIFF('AVI ') layout as
    :func:`encode_avi_payload` (hdrl with avih + strl, then movi),
    but the stream is declared compressed — strh handler and strf
    biCompression both 'MJPG' — and each '00dc' chunk carries a
    COMPLETE baseline JFIF (:func:`jpeg.encode_jpeg_payload` for
    jid = doc_id + 6*f), per the de-facto MJPEG-in-AVI convention of
    one self-contained JPEG per frame."""
    import struct

    w, h, nf = _mjpeg_params(doc_id)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return (
            struct.pack("<4sI", fourcc, len(data))
            + data
            + (b"\x00" if len(data) & 1 else b"")
        )

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<14I", 33333, 0, 0, 0, nf, 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, 30, 0, nf, 0, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24,
        struct.unpack("<I", b"MJPG")[0],  # biCompression fourcc
        0, 2835, 2835, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(
        b"movi",
        b"".join(
            chunk(
                b"00dc",
                _jpeg.encode_jpeg_payload(
                    doc_id + AVI_MJPEG_JID_STRIDE * f
                ),
            )
            for f in range(nf)
        ),
    )
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_avi_mjpeg(payload: bytes) -> dict:
    """Parse an MJPEG AVI into per-stream coefficient statistics —
    dependency-free, composing the two real decoders this package
    already carries: the RIFF/LIST container walk (the
    :func:`decode_avi` layout) and the full baseline-JPEG entropy
    decode (:func:`jpeg.decode_jpeg`) run on every '00dc' chunk.

    Strict like its siblings: rejects non-MJPG streams (raw-DIB files
    belong to :func:`decode_avi`), frames whose decoded geometry
    disagrees with the avih header, and frame counts that disagree
    with avih dwTotalFrames. Returns {width, height, n_frames,
    n_blocks, sum_dc, sum_ac, frame_checksum} where the sums
    accumulate each frame's dequantized-coefficient statistics and
    frame_checksum = Σ (f+1) · coef_checksum(frame f) — the
    (frame-order)-weighted form that a reordered, dropped, or
    duplicated frame cannot hash-match."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    avih = None
    handler = None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal avih, handler
        pos = start
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            data_start = pos + 8
            if cid == b"LIST":
                walk(data_start + 4, data_start + size)
            elif cid == b"avih":
                avih = struct.unpack_from("<14I", payload, data_start)
            elif cid == b"strh":
                # the video codec comes from the FIRST 'vids' stream: a
                # trailing audio strl must not overwrite it
                if (
                    handler is None
                    and payload[data_start : data_start + 4] == b"vids"
                ):
                    handler = payload[data_start + 4 : data_start + 8]
            elif cid == b"00dc":
                # compressed stream-0 frames only: '00db' (raw DIB) and
                # other streams' chunks are not JPEG frames
                frames.append(payload[data_start : data_start + size])
            pos = data_start + size + (size & 1)

    walk(12, len(payload))
    if avih is None:
        raise ValueError("AVI missing avih header")
    if handler != b"MJPG":
        raise ValueError(
            f"not an MJPEG stream (strh handler {handler!r}): raw-DIB "
            "files are decode_avi's job"
        )
    w, h = avih[8], avih[9]
    if avih[4] != len(frames):
        raise ValueError(
            f"avih says {avih[4]} frames, movi carries {len(frames)}"
        )
    n_blocks = sum_dc = sum_ac = frame_checksum = 0
    for f, jfif in enumerate(frames):
        _px, st = _jpeg.decode_jpeg(bytes(jfif))
        if (st["width"], st["height"]) != (w, h):
            raise ValueError(
                f"frame {f} geometry {st['width']}x{st['height']} "
                f"disagrees with avih {w}x{h}"
            )
        n_blocks += st["n_blocks"]
        sum_dc += st["sum_dc"]
        sum_ac += st["sum_ac"]
        frame_checksum += (f + 1) * st["coef_checksum"]
    return {
        "width": w, "height": h, "n_frames": len(frames),
        "n_blocks": n_blocks, "sum_dc": sum_dc, "sum_ac": sum_ac,
        "frame_checksum": frame_checksum,
    }


def synthesize_avi_mjpeg(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary, mime): one real MJPEG AVI per doc,
    synthesized in the workers — the :func:`synthesize_media` shape
    for the one kind whose payload composes two codecs."""
    from ..engine import ship_package

    def _synth(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        encode_avi_mjpeg_payload(int(d))
                        for d in pdf["doc_id"]
                    ],
                    "mime": "video/x-msvideo",
                }
            )

    ship_package(docs.sparkSession)
    return docs.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary, mime string"
    )


def decode_avi_mjpeg_features(media: DataFrame) -> DataFrame:
    """COMPRESSED-video decode over a binary column: full RIFF walk
    plus a complete baseline-JPEG entropy decode per frame, in one
    narrow Arrow map — payload bytes stream through the workers and
    never visit the driver, like every codec sibling."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                st = decode_avi_mjpeg(bytes(payload))
                rows.append(
                    (int(did), st["width"], st["height"],
                     st["n_frames"], st["n_blocks"], st["sum_dc"],
                     st["sum_ac"], st["frame_checksum"])
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_frames",
                         "n_blocks", "sum_dc", "sum_ac",
                         "frame_checksum"],
            )
            for col, t in (("doc_id", "int64"), ("width", "int32"),
                           ("height", "int32"), ("n_frames", "int32"),
                           ("n_blocks", "int32"), ("sum_dc", "int64"),
                           ("sum_ac", "int64"),
                           ("frame_checksum", "int64")):
                out[col] = out[col].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AVI_MJPEG_SCHEMA)


# ---------------------------------------------------------------------------
# Interleaved audio+video AVI: MJPEG '00dc' frames + G.711 mu-law
# '01wb' audio chunks in one movi stream — the canonical two-stream
# container composition (r18 VERDICT task 6).
# ---------------------------------------------------------------------------

AVI_AV_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, n_blocks int, "
    "sum_dc long, sum_ac long, frame_checksum long, sample_rate int, "
    "n_audio_samples int, audio_sum long, audio_checksum long"
)

# One audio chunk per video frame (the standard 1:1 interleave for
# AVIs without an index): ceil(8000 Hz / 30 fps) mono mu-law bytes.
AVI_AV_SAMPLE_RATE = 8000
AVI_AV_SAMPLES_PER_FRAME = 267


def _av_mulaw_bytes(doc_id: int, nf: int):
    """Encoded mu-law bytes for the WHOLE audio stream, global sample
    index s = frame*267 + j: b_s = (doc_id*13 + s*31) % 256 — the
    :func:`_mulaw_samples` synthesis formula over the interleaved
    stream, so the oracle expands the identical closed form."""
    import numpy as np

    s = np.arange(nf * AVI_AV_SAMPLES_PER_FRAME, dtype=np.int64)
    return ((doc_id * 13 + s * 31) % 256).astype(np.uint8)


def encode_avi_mjpeg_mulaw_payload(doc_id: int) -> bytes:
    """A real TWO-STREAM AVI: stream 0 is the MJPEG video of
    :func:`encode_avi_mjpeg_payload` (strh 'vids'/'MJPG', one complete
    baseline JFIF per '00dc' chunk, jid = doc_id + 6*f), stream 1 is
    G.711 mu-law audio (strh 'auds', strf WAVEFORMAT wFormatTag=7,
    mono, 8000 Hz, 8-bit), interleaved one '01wb' chunk of 267
    samples after each video frame — the de-facto AV interleave for
    index-less AVIs. strh rate fields declare 30 fps / 8000 Hz
    correctly (dwRate/dwScale)."""
    import struct

    w, h, nf = _mjpeg_params(doc_id)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return (
            struct.pack("<4sI", fourcc, len(data))
            + data
            + (b"\x00" if len(data) & 1 else b"")
        )

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<14I", 33333, 0, 0, 0, nf, 0, 2, 0, w, h, 0, 0, 0, 0
    )
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, 30, 0, nf, 0, 0, 0,
        0, 0, w, h,
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24,
        struct.unpack("<I", b"MJPG")[0],
        0, 2835, 2835, 0, 0,
    )
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"auds", bytes(4), 0, 0, 0, 0, 1, AVI_AV_SAMPLE_RATE, 0,
        nf * AVI_AV_SAMPLES_PER_FRAME, 0, 0, 0, 0, 0, 0, 0,
    )
    strf_a = struct.pack(
        "<HHIIHH", 7, 1, AVI_AV_SAMPLE_RATE, AVI_AV_SAMPLE_RATE, 1, 8
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
        + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a)),
    )
    audio = _av_mulaw_bytes(doc_id, nf).tobytes()
    spf = AVI_AV_SAMPLES_PER_FRAME
    movi = lst(
        b"movi",
        b"".join(
            chunk(
                b"00dc",
                _jpeg.encode_jpeg_payload(
                    doc_id + AVI_MJPEG_JID_STRIDE * f
                ),
            )
            + chunk(b"01wb", audio[f * spf : (f + 1) * spf])
            for f in range(nf)
        ),
    )
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_avi_mjpeg_mulaw(payload: bytes) -> dict:
    """Parse a two-stream MJPEG+mu-law AVI into per-stream statistics,
    composing THREE real decoders this package already carries: the
    RIFF/LIST container walk, the full baseline-JPEG entropy decode
    (:func:`jpeg.decode_jpeg`) per '00dc' chunk, and the G.711 mu-law
    integer expansion (:func:`mulaw_expand`) over the concatenated
    '01wb' chunks.

    Stream binding is positional like a real demuxer: each strl's strf
    is bound to the strh that opened it, the VIDEO codec decision
    comes from the FIRST 'vids' strh (a trailing audio strl cannot
    overwrite it), and only '00dc' (compressed stream-0) / '01wb'
    (stream-1 wave) chunks are consumed. Strict: rejects non-MJPG
    video, non-mu-law (wFormatTag != 7), non-mono or non-8-bit audio,
    frame counts disagreeing with avih dwTotalFrames, geometry
    disagreeing with avih, and audio chunk counts that break the 1:1
    interleave. Returns video stats as :func:`decode_avi_mjpeg` plus
    {sample_rate, n_audio_samples, audio_sum, audio_checksum} where
    audio_checksum = Σ (s+1)·expand(b_s) over the CONCATENATED chunk
    order — a reordered, dropped, or duplicated audio chunk cannot
    hash-match."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    avih = None
    video_handler = None
    streams: list[bytes] = []  # strh fccTypes in strl order
    audio_fmt = None
    video_frames: list[bytes] = []
    audio_chunks: list[bytes] = []

    # Iterative span-stack walk (same document order as the recursive
    # form: on LIST, push the continuation and descend), so a deeply
    # nested LIST chain can never raise RecursionError, and truncated
    # avih/strf headers surface as the decoder's contract ValueError
    # rather than raw struct.error inside the Arrow map.
    spans: list[tuple[int, int]] = []
    pos, end = 12, len(payload)
    while True:
        if pos + 8 > end:
            if not spans:
                break
            pos, end = spans.pop()
            continue
        cid, size = struct.unpack_from("<4sI", payload, pos)
        data_start = pos + 8
        if cid == b"LIST":
            spans.append((data_start + size + (size & 1), end))
            pos, end = data_start + 4, min(data_start + size, len(payload))
            continue
        try:
            if cid == b"avih":
                avih = struct.unpack_from("<14I", payload, data_start)
            elif cid == b"strh":
                fcc_type = payload[data_start : data_start + 4]
                streams.append(fcc_type)
                if fcc_type == b"vids" and video_handler is None:
                    video_handler = payload[data_start + 4 : data_start + 8]
            elif cid == b"strf":
                # bound to the strl this strf sits in = last strh seen
                if streams and streams[-1] == b"auds" and audio_fmt is None:
                    audio_fmt = struct.unpack_from(
                        "<HHIIHH", payload, data_start
                    )
        except struct.error as exc:
            raise ValueError(f"truncated {cid!r} header: {exc}") from exc
        if cid == b"00dc":
            video_frames.append(payload[data_start : data_start + size])
        elif cid == b"01wb":
            audio_chunks.append(payload[data_start : data_start + size])
        pos = data_start + size + (size & 1)
    if avih is None:
        raise ValueError("AVI missing avih header")
    if video_handler != b"MJPG":
        raise ValueError(
            f"not an MJPEG video stream (strh handler {video_handler!r})"
        )
    if audio_fmt is None:
        raise ValueError("AVI missing 'auds' stream (strh + strf)")
    fmt_tag, n_ch, rate, _bps, _align, bits = audio_fmt
    if (fmt_tag, n_ch, bits) != (7, 1, 8):
        raise ValueError(
            f"unsupported audio format (tag={fmt_tag}, ch={n_ch}, "
            f"bits={bits}): only mono 8-bit G.711 mu-law is decodable "
            "here"
        )
    w, h = avih[8], avih[9]
    if avih[4] != len(video_frames):
        raise ValueError(
            f"avih says {avih[4]} frames, movi carries "
            f"{len(video_frames)}"
        )
    if len(audio_chunks) != len(video_frames):
        raise ValueError(
            f"broken 1:1 interleave: {len(video_frames)} video frames "
            f"vs {len(audio_chunks)} audio chunks"
        )
    n_blocks = sum_dc = sum_ac = frame_checksum = 0
    for f, jfif in enumerate(video_frames):
        _px, st = _jpeg.decode_jpeg(bytes(jfif))
        if (st["width"], st["height"]) != (w, h):
            raise ValueError(
                f"frame {f} geometry {st['width']}x{st['height']} "
                f"disagrees with avih {w}x{h}"
            )
        n_blocks += st["n_blocks"]
        sum_dc += st["sum_dc"]
        sum_ac += st["sum_ac"]
        frame_checksum += (f + 1) * st["coef_checksum"]
    enc = np.frombuffer(b"".join(audio_chunks), dtype=np.uint8)
    lin = mulaw_expand(enc.astype(np.int64))
    s = np.arange(len(lin), dtype=np.int64)
    return {
        "width": w, "height": h, "n_frames": len(video_frames),
        "n_blocks": n_blocks, "sum_dc": sum_dc, "sum_ac": sum_ac,
        "frame_checksum": frame_checksum,
        "sample_rate": int(rate),
        "n_audio_samples": int(len(lin)),
        "audio_sum": int(lin.sum()),
        "audio_checksum": int(((s + 1) * lin).sum()),
    }


def synthesize_avi_interleaved(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary, mime): one real two-stream MJPEG +
    mu-law AVI per doc, synthesized in the workers (the
    :func:`synthesize_avi_mjpeg` shape)."""
    from ..engine import ship_package

    def _synth(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        encode_avi_mjpeg_mulaw_payload(int(d))
                        for d in pdf["doc_id"]
                    ],
                    "mime": "video/x-msvideo",
                }
            )

    ship_package(docs.sparkSession)
    return docs.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary, mime string"
    )


def decode_avi_interleaved_features(media: DataFrame) -> DataFrame:
    """Two-stream A/V decode over a binary column: RIFF walk + per-
    frame T.81 entropy decode + G.711 expansion in one narrow Arrow
    map — payload bytes stream through the workers and never visit
    the driver, like every codec sibling."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                st = decode_avi_mjpeg_mulaw(bytes(payload))
                rows.append(
                    (int(did), st["width"], st["height"],
                     st["n_frames"], st["n_blocks"], st["sum_dc"],
                     st["sum_ac"], st["frame_checksum"],
                     st["sample_rate"], st["n_audio_samples"],
                     st["audio_sum"], st["audio_checksum"])
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_frames",
                         "n_blocks", "sum_dc", "sum_ac",
                         "frame_checksum", "sample_rate",
                         "n_audio_samples", "audio_sum",
                         "audio_checksum"],
            )
            for col, t in (("doc_id", "int64"), ("width", "int32"),
                           ("height", "int32"), ("n_frames", "int32"),
                           ("n_blocks", "int32"), ("sum_dc", "int64"),
                           ("sum_ac", "int64"),
                           ("frame_checksum", "int64"),
                           ("sample_rate", "int32"),
                           ("n_audio_samples", "int32"),
                           ("audio_sum", "int64"),
                           ("audio_checksum", "int64")):
                out[col] = out[col].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AVI_AV_SCHEMA)


# ---------------------------------------------------------------------------
# Compressed text ingestion (gzip/zlib payloads — stdlib)
# ---------------------------------------------------------------------------

GZIP_INGEST_SCHEMA = (
    "doc_id long, n_raw int, is_gzip boolean, raw_md5 string"
)


def gzip_ingest(docs: DataFrame) -> DataFrame:
    """Compressed-text ingestion: each document's text is shipped as a
    REAL gzip member (compressed in the worker with stdlib zlib,
    wbits=31 → 10-byte gzip header + deflate + CRC32/ISIZE trailer),
    then decompressed back and verified — the shape of reading .gz
    corpora where payload bytes stream through Arrow batches and
    never land on the driver. Emits the decompressed byte count, the
    gzip-magic check, and the md5 of the RECOVERED text, which the
    oracle computes directly from the source column — a decompressor
    that corrupts or truncates cannot hash-match.

    Narrow one-stage mapInPandas; at 100 TB this is the ingest-side
    codec hop (compress once, decode per consumer) with zero shuffle.
    """
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import zlib

        for pdf in batch_iter:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = ("" if text is None else text).encode("utf-8")
                co = zlib.compressobj(6, zlib.DEFLATED, 31)
                payload = co.compress(raw) + co.flush()
                # Real round trip: decompress the gzip member back.
                back = zlib.decompress(payload, 31)
                rows.append(
                    (
                        int(did),
                        len(back),
                        payload[:2] == b"\x1f\x8b",
                        hashlib.md5(back).hexdigest(),
                    )
                )
            out = pd.DataFrame(
                rows, columns=["doc_id", "n_raw", "is_gzip", "raw_md5"]
            )
            out["doc_id"] = out["doc_id"].astype("int64")
            out["n_raw"] = out["n_raw"].astype("int32")
            out["is_gzip"] = out["is_gzip"].astype("bool")
            yield out

    ship_package(docs.sparkSession)
    return docs.select("doc_id", "text").mapInPandas(
        _run, schema=GZIP_INGEST_SCHEMA
    )


WEBDATASET_SCHEMA = (
    "doc_id long, n_members int, tar_bytes int, txt_md5 string, "
    "json_md5 string, n_payload_bytes int"
)


def webdataset_ingest(docs: DataFrame) -> DataFrame:
    """WebDataset-style shard round trip: each document becomes a REAL
    ustar archive (stdlib tarfile; deterministic headers — zero
    mtime/uid/gid, fixed mode) holding the sample-naming convention's
    two members, ``{doc_id:09d}.txt`` (the text) and
    ``{doc_id:09d}.json`` (lang/source metadata), then the tar is
    read back with tarfile and verified. Emits the member count, the
    EXACT tar byte size (512-byte block arithmetic plus tarfile's
    20-block record padding, all replayed by the oracle: 2 trailer
    blocks + per member 1 header block + ceil(size/512) data blocks,
    rounded up to a 10240-byte record), and md5s of the RECOVERED
    members —
    the training-shard ingest hop (tar in object storage, samples
    streamed through Arrow, nothing on the driver).

    At 100 TB the same map runs over real shard files read as binary
    blobs; here the shard is built in-worker so the round trip (pack
    + unpack + verify) is what's pinned."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io
        import tarfile

        for pdf in batch_iter:
            rows = []
            for did, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                did = int(did)
                raw = ("" if text is None else text).encode("utf-8")
                meta = (
                    '{"lang": "%s", "source": "%s"}'
                    % ("" if lang is None else lang,
                       "" if source is None else source)
                ).encode("utf-8")
                buf = io.BytesIO()
                with tarfile.open(
                    fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
                ) as tf:
                    for name, data in (
                        (f"{did:09d}.txt", raw),
                        (f"{did:09d}.json", meta),
                    ):
                        info = tarfile.TarInfo(name)
                        info.size = len(data)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.mode = 0o644
                        tf.addfile(info, io.BytesIO(data))
                shard = buf.getvalue()
                # Read the shard BACK and verify the convention.
                got = {}
                with tarfile.open(
                    fileobj=io.BytesIO(shard), mode="r"
                ) as tf:
                    for m in tf.getmembers():
                        got[m.name] = tf.extractfile(m).read()
                txt = got[f"{did:09d}.txt"]
                js = got[f"{did:09d}.json"]
                rows.append(
                    (
                        did,
                        len(got),
                        len(shard),
                        hashlib.md5(txt).hexdigest(),
                        hashlib.md5(js).hexdigest(),
                        len(txt) + len(js),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "n_members", "tar_bytes", "txt_md5",
                         "json_md5", "n_payload_bytes"],
            )
            for c, t in (("doc_id", "int64"), ("n_members", "int32"),
                         ("tar_bytes", "int32"),
                         ("n_payload_bytes", "int32")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(docs.sparkSession)
    return docs.select("doc_id", "text", "lang", "source").mapInPandas(
        _run, schema=WEBDATASET_SCHEMA
    )


WEBDATASET_SHARD_SCHEMA = (
    "shard_id long, n_samples long, n_members long, tar_bytes long, "
    "payload_md5 string, verify_ok boolean"
)
N_WDS_SHARDS = 16


def webdataset_shards(docs: DataFrame, n_shards: int = N_WDS_SHARDS) -> DataFrame:
    """The EXPORT half of the WebDataset hop: pack MANY samples per
    shard (webdataset_ingest is the per-sample ingest twin). Shard
    assignment is the content hash mod ``n_shards`` — stable under
    doc renumbering, uniform by construction — and each shard becomes
    ONE deterministic ustar archive (members in doc_id order, two per
    sample: ``{doc_id:09d}.txt`` + ``.json`` metadata; zero
    mtime/uid/gid, fixed mode), built in a single task via
    ``applyInPandas`` over the shard group, read back with tarfile
    and verified.

    Emits per shard: sample/member counts, the EXACT tar byte size
    (512-block arithmetic + 10240-byte record padding, replayed
    closed-form by the DuckDB oracle), and the md5 of the texts
    concatenated in member order — both engines hash the identical
    byte stream, pinning member ORDER as well as content.

    At 100 TB this is the real shard-writer shape: one shuffle keyed
    on the uniform shard hash, each shard written by one task
    (production tars stream to object storage instead of being
    stat'ed); shard count is the parallelism dial, and a shard must
    fit a worker — the same contract actual WebDataset writers have.
    """
    from ..engine import ship_package
    from .text import canonical_text, md5_hash64

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib
        import io
        import tarfile

        pdf = pdf.sort_values("doc_id")
        shard_id = int(pdf["shard_id"].iloc[0])
        buf = io.BytesIO()
        payload = hashlib.md5()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for did, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                did = int(did)
                raw = ("" if text is None else text).encode("utf-8")
                meta = (
                    '{"lang": "%s", "source": "%s"}'
                    % ("" if lang is None else lang,
                       "" if source is None else source)
                ).encode("utf-8")
                payload.update(raw)
                for name, data in (
                    (f"{did:09d}.txt", raw),
                    (f"{did:09d}.json", meta),
                ):
                    info = tarfile.TarInfo(name)
                    info.size = len(data)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.mode = 0o644
                    tf.addfile(info, io.BytesIO(data))
        shard = buf.getvalue()
        with tarfile.open(fileobj=io.BytesIO(shard), mode="r") as tf:
            names = [m.name for m in tf.getmembers()]
        want = []
        for did in pdf["doc_id"]:
            want += [f"{int(did):09d}.txt", f"{int(did):09d}.json"]
        ok = names == want
        return pd.DataFrame(
            [[
                shard_id,
                len(pdf),
                len(names),
                len(shard),
                payload.hexdigest(),
                bool(ok),
            ]],
            columns=["shard_id", "n_samples", "n_members", "tar_bytes",
                     "payload_md5", "verify_ok"],
        )

    ship_package(docs.sparkSession)
    # Hash over coalesce(text, ''): a NULL text must land in a real
    # shard (the packer already writes it as an empty member), not a
    # NULL shard_id whose group would crash int() in _pack (ADVICE
    # r11); the oracle coalesces identically.
    keyed = docs.select(
        "doc_id", "text", "lang", "source",
        (
            md5_hash64(canonical_text(F.coalesce(F.col("text"), F.lit(""))))
            % F.lit(n_shards)
        ).alias("shard_id"),
    )
    return keyed.groupBy("shard_id").applyInPandas(
        _pack, schema=WEBDATASET_SHARD_SCHEMA
    )


XZ_BZ2_SCHEMA = (
    "doc_id long, n_raw int, xz_ok boolean, bz2_ok boolean, "
    "raw_md5 string"
)


def xz_bz2_ingest(docs: DataFrame) -> DataFrame:
    """The gzip_ingest twins for the other two stdlib container
    codecs training corpora ship in: each doc's text goes through a
    REAL .xz member (lzma container, CRC64 stream flags) AND a real
    bzip2 member, both decompressed back and verified — magic bytes
    checked, recovered md5 pinned against the source column."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bz2
        import hashlib
        import lzma

        for pdf in batch_iter:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = ("" if text is None else text).encode("utf-8")
                # preset=1: the verification contract (magic bytes,
                # round-trip equality, md5 of the RECOVERED bytes) is
                # preset-independent, and preset 6 spent 5.8× the CPU
                # compressing harder for nothing the entry checks
                # (r21: 3.84→0.67 s serial over the sf0.1 corpus).
                # Still a real .xz container with CRC64 stream flags.
                xz = lzma.compress(raw, preset=1)
                bz = bz2.compress(raw)
                back_xz = lzma.decompress(xz)
                back_bz = bz2.decompress(bz)
                rows.append(
                    (
                        int(did),
                        len(back_xz),
                        xz[:6] == b"\xfd7zXZ\x00" and back_xz == raw,
                        bz[:3] == b"BZh" and back_bz == raw,
                        hashlib.md5(back_xz).hexdigest(),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "n_raw", "xz_ok", "bz2_ok", "raw_md5"],
            )
            out["doc_id"] = out["doc_id"].astype("int64")
            out["n_raw"] = out["n_raw"].astype("int32")
            out["xz_ok"] = out["xz_ok"].astype("bool")
            out["bz2_ok"] = out["bz2_ok"].astype("bool")
            yield out

    ship_package(docs.sparkSession)
    return docs.select("doc_id", "text").mapInPandas(
        _run, schema=XZ_BZ2_SCHEMA
    )


AUGMENT_SCHEMA = (
    "doc_id long, width int, height int, flip_checksum long, "
    "sum_preserved boolean"
)


def image_flip_augment(media: DataFrame) -> DataFrame:
    """Real augmentation math ON the decoded image: horizontal flip
    (out[y, x] = in[y, w-1-x]) — the canonical training-time
    augmentation — with a position-weighted checksum over the FLIPPED
    array pinning the mirror geometry, plus the invariant that the
    value sum is flip-preserved (a cheap self-check a broken flip
    that drops or duplicates columns fails). One more numpy step in
    the same narrow Arrow map as the decode."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batch_iter:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                px = (
                    decode_bmp(payload)
                    if payload[:2] == b"BM"
                    else decode_ppm(payload)
                    if payload[:2] == b"P6"
                    else decode_png(payload)[0]
                )
                h, w, _ = px.shape
                flipped = px[:, ::-1, :]
                flat = flipped.reshape(-1).astype(np.int64)
                orig = px.reshape(-1).astype(np.int64)
                rows.append(
                    (
                        int(did), w, h,
                        int(((np.arange(flat.size, dtype=np.int64) + 1)
                             * flat).sum()),
                        bool(flat.sum() == orig.sum()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "flip_checksum",
                    "sum_preserved",
                ],
            )
            for c, t in (("doc_id", "int64"), ("width", "int32"),
                         ("height", "int32"), ("flip_checksum", "int64"),
                         ("sum_preserved", "bool")):
                out[c] = out[c].astype(t)
            yield out

    ship_package(media.sparkSession)
    return media.mapInPandas(_run, schema=AUGMENT_SCHEMA)


# ---------------------------------------------------------------------------
# WebDataset MULTIMODAL shards (r20): image+audio+text+label samples
# ---------------------------------------------------------------------------

WDS_MM_SAMPLES_PER_SHARD = 8
# WebDataset convention: members of one sample share the dotted key
# and sit ADJACENT in the tar; extensions are emitted sorted.
WDS_MM_EXTS = ("cls", "ppm", "txt", "wav")


def _wds_mm_text(doc_id: int) -> bytes:
    """Closed-form printable-ASCII text member: n = 32 + doc_id % 41
    bytes, byte_j = 32 + ((doc_id*3 + j*7) % 95) — SQL-replayable and
    free of tar-hostile values."""
    n = 32 + doc_id % 41
    return bytes(32 + ((doc_id * 3 + j * 7) % 95) for j in range(n))


def encode_webdataset_mm_sample(doc_id: int) -> list:
    """One multimodal sample, four members in sorted-extension order:
    ``{key}.cls`` (ASCII class label = doc_id % 10), ``{key}.ppm``
    (the P6 image the PPM entry decodes), ``{key}.txt`` (closed-form
    ASCII), ``{key}.wav`` (the PCM16 RIFF the WAV entry decodes)."""
    key = f"{doc_id:09d}"
    return [
        (f"{key}.cls", str(doc_id % 10).encode("ascii")),
        (f"{key}.ppm", encode_ppm_payload(doc_id)),
        (f"{key}.txt", _wds_mm_text(doc_id)),
        (f"{key}.wav", encode_wav_payload(doc_id)),
    ]


def encode_webdataset_mm_shard(doc_ids) -> bytes:
    """One deterministic multi-sample ustar shard: samples in
    ascending doc_id order, members per sample in sorted-extension
    order, zero mtime/uid/gid and fixed mode so the byte stream is a
    pure function of the ids."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for did in sorted(int(d) for d in doc_ids):
            for name, data in encode_webdataset_mm_sample(did):
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def decode_webdataset_mm_shard(payload: bytes) -> list:
    """Demux one multimodal shard back into per-sample feature rows,
    through the package's OWN codec parsers (decode_ppm, decode_wav).
    Strict like the codec siblings: unknown extensions, split (non-
    adjacent) samples, and incomplete samples raise ValueError.

    Row: (doc_id, label, width, height, img_checksum, n_channels,
    sample_rate, n_frames, audio_checksum, txt_len, txt_checksum,
    n_members); checksums are position-weighted Σ (k+1)·value like
    every codec entry, so member corruption or reordering cannot
    hash-match."""
    import io
    import tarfile

    import numpy as np

    samples: list[tuple[str, dict]] = []  # ordered (key, ext->bytes)
    with tarfile.open(fileobj=io.BytesIO(payload), mode="r") as tf:
        for m in tf.getmembers():
            if "." not in m.name:
                raise ValueError(f"member without extension: {m.name!r}")
            key, ext = m.name.split(".", 1)
            if ext not in WDS_MM_EXTS:
                raise ValueError(f"unknown member extension: {m.name!r}")
            data = tf.extractfile(m).read()
            if samples and samples[-1][0] == key:
                if ext in samples[-1][1]:
                    raise ValueError(f"duplicate member: {m.name!r}")
                samples[-1][1][ext] = data
            else:
                if any(k == key for k, _ in samples):
                    raise ValueError(
                        f"split sample {key!r}: members must be adjacent"
                    )
                samples.append((key, {ext: data}))
    rows = []
    for key, members in samples:
        missing = [e for e in WDS_MM_EXTS if e not in members]
        if missing:
            raise ValueError(f"sample {key!r} missing members {missing}")
        doc_id = int(key)
        label = int(members["cls"].decode("ascii"))
        px = decode_ppm(members["ppm"])
        h, w, _ = px.shape
        flat = px.reshape(-1).astype(np.int64)
        img_checksum = int(
            ((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()
        )
        txt = members["txt"]
        tvals = np.frombuffer(txt, dtype=np.uint8).astype(np.int64)
        txt_checksum = int(
            ((np.arange(tvals.size, dtype=np.int64) + 1) * tvals).sum()
        )
        ch, sr, bits, samples_arr = decode_wav(members["wav"])
        if bits != 16:
            raise ValueError(f"sample {key!r}: expected PCM16 wav member")
        s = samples_arr.astype(np.int64)
        audio_checksum = int(
            ((np.arange(s.size, dtype=np.int64) + 1) * s).sum()
        )
        rows.append(
            (
                doc_id, label, w, h, img_checksum,
                int(ch), int(sr), int(s.size // ch), audio_checksum,
                len(txt), txt_checksum, len(members),
            )
        )
    return rows


def synthesize_webdataset_mm_shards(
    docs: DataFrame, samples_per_shard: int = WDS_MM_SAMPLES_PER_SHARD
) -> DataFrame:
    """(shard_id, payload binary, n_samples): one multimodal ustar
    shard per contiguous doc_id block, each built whole by ONE task
    (applyInPandas over the shard group — the standard WebDataset
    export shape: a 100 TB corpus becomes #docs/8 independent shard
    builds, one shuffle on the shard key, shard bytes never on the
    driver)."""
    from ..engine import ship_package

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = sorted(int(d) for d in pdf["doc_id"])
        return pd.DataFrame(
            {
                "shard_id": [ids[0] // samples_per_shard],
                "payload": [encode_webdataset_mm_shard(ids)],
                "n_samples": [len(ids)],
            }
        )

    ship_package(docs.sparkSession)
    # Integer FLOOR division, matching _build's ``//`` and the SQL
    # oracle: the previous double-divide-then-cast truncated toward
    # zero, bucketing negative doc_ids differently from the builder.
    shard = F.floor(F.col("doc_id") / F.lit(samples_per_shard)).cast("long")
    return (
        docs.select("doc_id")
        .groupBy(shard.alias("shard_id"))
        .applyInPandas(_build, schema="shard_id long, payload binary, n_samples int")
    )


WDS_MM_READER_SCHEMA = (
    "doc_id long, shard_id long, label int, width int, height int, "
    "img_checksum long, n_channels int, sample_rate int, n_frames int, "
    "audio_checksum long, txt_len int, txt_checksum long, n_members int"
)


def read_webdataset_mm_features(shards: DataFrame) -> DataFrame:
    """The READ half: demux + decode every sample of every shard in
    one narrow Arrow map — no shuffle (shards are already independent
    units of work; at 100 TB this is the map over object-storage
    shard blobs), payloads never on the driver."""
    from ..engine import ship_package

    def _run(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id", "label", "width", "height", "img_checksum",
            "n_channels", "sample_rate", "n_frames", "audio_checksum",
            "txt_len", "txt_checksum", "n_members",
        ]
        for pdf in batch_iter:
            rows = []
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                for row in decode_webdataset_mm_shard(bytes(payload)):
                    rows.append((row[0], int(sid)) + row[1:])
            out = pd.DataFrame(rows, columns=["doc_id", "shard_id"] + cols[1:])
            for c in ("doc_id", "shard_id", "img_checksum",
                      "audio_checksum", "txt_checksum"):
                out[c] = out[c].astype("int64")
            for c in ("label", "width", "height", "n_channels",
                      "sample_rate", "n_frames", "txt_len", "n_members"):
                out[c] = out[c].astype("int32")
            yield out

    ship_package(shards.sparkSession)
    return shards.select("shard_id", "payload").mapInPandas(
        _run, schema=WDS_MM_READER_SCHEMA
    )


def write_webdataset_mm_files(shards: DataFrame, out_dir: str) -> list:
    """Materialize multimodal shards as REAL ``.tar`` files — one file
    per shard, written by the task that owns the shard (the actual
    WebDataset export pattern: N independent shard writers, no
    driver-side funnel). Publication is atomic per shard (write to a
    dotted temp name, ``os.replace`` to ``shard-%06d.tar``), so a
    killed task never leaves a half shard under the published glob
    and a retry simply overwrites its own temp. ``out_dir`` must be
    storage every executor can reach (on a cluster: a shared
    filesystem or fuse mount; object stores want a committer, which
    Spark's file sinks provide — this path is for the tar-shard
    layout those sinks cannot express).

    Returns the published (shard_id, n_bytes) pairs, sorted — tiny
    (one row per shard), safe to return to the driver."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os

        # also in the worker: on a real cluster the driver-side
        # makedirs above ran on a different machine
        _os.makedirs(out_dir, exist_ok=True)
        for pdf in batch_iter:
            rows = []
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                data = bytes(payload)
                final = _os.path.join(
                    out_dir, f"shard-{int(sid):06d}.tar"
                )
                tmp = _os.path.join(
                    out_dir, f".shard-{int(sid):06d}.tar.tmp"
                )
                with open(tmp, "wb") as f:
                    f.write(data)
                _os.replace(tmp, final)
                rows.append((int(sid), len(data)))
            yield pd.DataFrame(rows, columns=["shard_id", "n_bytes"])

    from ..engine import ship_package

    ship_package(shards.sparkSession)
    out = shards.select("shard_id", "payload").mapInPandas(
        _write, schema="shard_id long, n_bytes long"
    )
    return sorted((int(r[0]), int(r[1])) for r in out.collect())


def read_webdataset_mm_dir(spark, in_dir: str) -> DataFrame:
    """The ingest half of the filesystem round trip: load published
    shard files through Spark's built-in ``binaryFile`` source (the
    glob excludes in-flight ``.tmp`` names by construction) and demux
    them with :func:`read_webdataset_mm_features`. At 100 TB this IS
    the deployment read path — shard blobs from object storage, one
    Arrow map, no shuffle; shard_id is recovered from the filename so
    the rows are comparable to the in-memory reader's."""
    files = (
        spark.read.format("binaryFile")
        .load(in_dir + "/shard-*.tar")
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)\.tar$", 1)
            .cast("long")
            .alias("shard_id"),
            F.col("content").alias("payload"),
        )
    )
    return read_webdataset_mm_features(files)


def stream_webdataset_mm_dir(spark, in_dir: str) -> DataFrame:
    """STREAMING ingest of published multimodal shards: a Structured
    Streaming `binaryFile` file source over the shard glob (the file
    stream source tracks seen files in the checkpoint, so each
    published shard is demuxed exactly once across restarts), feeding
    the SAME Arrow demux map as the batch reader — the continuous
    deployment shape where shards land in object storage as upstream
    packers publish them. File stream sources require an explicit
    schema; binaryFile's is fixed. The dotted in-flight temp names of
    :func:`write_webdataset_mm_files` fall outside the glob, so a
    half-written shard can never be picked up."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(in_dir + "/shard-*.tar")
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)\.tar$", 1)
            .cast("long")
            .alias("shard_id"),
            F.col("content").alias("payload"),
        )
    )
    return read_webdataset_mm_features(files)
