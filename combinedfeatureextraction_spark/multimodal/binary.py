"""Multimodal (image/audio/video) column plumbing.

The reference's payload model — a gigapixel raster cropped per element and
processed as numpy inside the worker (FeatureExtractor.py:290-316) — maps
to opaque ``binary`` columns with typed metadata structs, processed per
row through ``rowmap.per_row_map`` (one Arrow boundary for every
multimodal operator). The Spark-side plumbing here (schemas, batch
shape, partition sizing) is real and tested. The codec layer
decodes natively with zero external deps: binary netpbm (P5/P6),
RIFF/WAVE PCM (8/16-bit), uncompressed 24-bit BMP (round 3), and —
round 4 — 8-bit PNG via stdlib zlib inflate + per-scanline unfilter
(all five filter types, CRC-verified, cross-checked byte-identical
against Java ImageIO in both directions) plus baseline AND
PROGRESSIVE JPEG (``multimodal.jpeg``: Huffman entropy decode +
dequantization bit-exact per T.81 incl. the Annex-G multi-scan
spectral-selection/successive-approximation machinery; float IDCT /
fancy 4:2:0 upsampling / YCbCr pixel path pinned to ImageIO within the
spec tolerance). Dispatch is by
magic bytes, verified by round-trip tests plus the ``media_decode`` /
``media_decode_png`` / ``media_decode_jpeg`` analytic oracles. The
remaining compressed formats (lossless/arithmetic JPEG, MP4, …) still
raise NotImplementedError at the same seam: those genuinely need
cv2/PIL/librosa, which are not in this container (FLAC decodes natively,
``multimodal.flac``). ``extract_media_features`` keeps a fake
byte-domain decode for plumbing tests.

Scale notes: binary payloads make rows wide — per_row_map's Arrow
batches are bounded by spark.sql.execution.arrow.maxRecordsPerBatch, and
the metadata struct lets filters prune (e.g. width>0,
media_type='image') BEFORE the payload bytes cross the Arrow boundary
(column pruning keeps the bytes JVM-side for rows the filter drops).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("byte_len", T.IntegerType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_std", T.DoubleType(), False),
        T.StructField("fake_embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def decode_ppm(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """Pure-numpy decoder for binary netpbm images — P6 (RGB) and P5
    (gray). Whitespace/comment-tolerant header per the netpbm spec, then
    raw samples. Returns (flat float64 samples, width, height,
    channels). No external codec library required."""
    if payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary netpbm payload")
    channels = 3 if payload[:2] == b"P6" else 1
    # header tokens: magic, width, height, maxval — separated by
    # whitespace, with '#'-to-EOL comments allowed between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw data
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    n = w * h * channels
    data = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return data.astype(np.float64), w, h, channels


def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Pure-numpy decoder for RIFF/WAVE PCM (8- or 16-bit). Walks the
    chunk list (fmt / data may be preceded by LIST etc.). Returns
    (flat float64 samples, sample_rate, channels)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise NotImplementedError("only PCM WAV supported")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    return samples, sample_rate, channels


def decode_bmp(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """Pure-numpy decoder for uncompressed 24-bit BMP: BITMAPINFOHEADER,
    4-byte-padded bottom-up BGR rows. Returns (flat float64 samples in
    row-major top-down RGB order, width, height, channels)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs(h), offset=off
    ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:  # positive height = bottom-up storage
        rows = rows[::-1]
    rgb = rows[:, :, ::-1]  # BGR → RGB
    return rgb.astype(np.float64).ravel(), w, abs(h), 3


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> sample channels (8-bit only; type 3 = palette
# unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    the linear gradient a + b − c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """Pure-stdlib PNG decoder (zlib inflate + per-scanline unfilter) —
    the highest-frequency compressed image format in any real multimodal
    corpus, decoded with ZERO new dependencies. Supports 8-bit
    grayscale / gray+alpha / RGB / RGBA (color types 0/4/2/6), all five
    scanline filters (None/Sub/Up/Average/Paeth), multi-IDAT streams,
    and verifies every chunk CRC. Palette (type 3), 16-bit and Adam7
    interlace raise NotImplementedError — the remaining compressed-codec
    seam is JPEG/FLAC/MP4 (those genuinely need external codecs).
    Returns (flat float64 samples row-major, width, height, channels).
    Reference analog: the slide-payload decode path S2
    (FeatureExtractor.py:300)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        crc = int.from_bytes(payload[pos + 8 + size : pos + 12 + size], "big")
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, interlace = ihdr[8], ihdr[9], ihdr[12]
    if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            "only 8-bit non-interlaced gray/RGB/alpha PNG supported"
        )
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = raw[r * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:  # None
            rec = row
        elif f == 2:  # Up — fully vectorized
            rec = (row + prev) & 0xFF
        elif f == 1:  # Sub — per-channel-lane running sum mod 256
            rec = row.reshape(w, ch).cumsum(axis=0) & 0xFF
            rec = rec.reshape(stride)
        else:  # Average / Paeth — left-neighbor recurrence, per byte
            rec = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - ch] if x >= ch else 0
                b = prev[x]
                if f == 3:
                    rec[x] = (row[x] + (a + b) // 2) & 0xFF
                elif f == 4:
                    c = prev[x - ch] if x >= ch else 0
                    rec[x] = (row[x] + _paeth(int(a), int(b), int(c))) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter byte {f}")
        out[r] = rec
        prev = rec
    return out.astype(np.float64).ravel(), w, h, ch


def encode_png_numpy(arr: np.ndarray, filters: Sequence[int] | None = None) -> bytes:
    """Test-rig PNG ENCODER (pure stdlib zlib + forward filtering) used
    by round-trip tests and the ``media_decode_png`` oracle fixture —
    not a production path. ``arr``: uint8 (h, w) or (h, w, ch) with ch
    in {1, 2, 3, 4}. ``filters``: per-scanline filter types; default
    cycles 0..4 so every unfilter branch of :func:`decode_png` is
    exercised."""
    import zlib

    a = np.asarray(arr, dtype=np.int64)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = a.reshape(h, w * ch)
    stride = w * ch
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = (filters[r % len(filters)] if filters else r % 5)
        row = flat[r]
        if f == 0:
            filt = row
        elif f == 1:
            left = np.concatenate([np.zeros(ch, dtype=np.int64), row[:-ch]])
            filt = (row - left) & 0xFF
        elif f == 2:
            filt = (row - prev) & 0xFF
        elif f == 3:
            left = np.concatenate([np.zeros(ch, dtype=np.int64), row[:-ch]])
            filt = (row - (left + prev) // 2) & 0xFF
        else:
            filt = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                pa = int(row[x - ch]) if x >= ch else 0
                pb = int(prev[x])
                pc = int(prev[x - ch]) if x >= ch else 0
                filt[x] = (int(row[x]) - _paeth(pa, pb, pc)) & 0xFF
        lines.append(f)
        lines.extend(filt.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


def _decode_real(payload: bytes) -> tuple:
    """The one codec dispatch, by magic bytes — pure numpy/stdlib, no
    external libraries: binary netpbm (P5/P6), RIFF/WAVE PCM,
    uncompressed 24-bit BMP, 8-bit PNG (zlib inflate + unfilter),
    baseline/progressive JPEG and FLAC. Returns (flat float64 samples,
    width, height, channels); width/height are None for audio, and an
    empty payload is (no samples, None, None, None). Lossless/arithmetic
    JPEG and MP4 raise NotImplementedError at this seam — those
    genuinely need cv2/PIL/librosa."""
    if not payload:
        return np.zeros(0), None, None, None
    if payload[:2] in (b"P6", b"P5"):
        return decode_ppm(payload)
    if payload[:4] == b"RIFF":
        arr, _, ch = decode_wav(payload)
        return arr, None, None, ch
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from combinedfeatureextraction_spark.multimodal.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"fLaC":
        from combinedfeatureextraction_spark.multimodal.flac import decode_flac

        arr, _, ch = decode_flac(payload)
        return arr, None, None, ch
    raise NotImplementedError(
        "compressed codec (lossless/arithmetic JPEG, MP4, ...) requires "
        "cv2/PIL/librosa — netpbm/WAV-PCM/BMP/PNG, baseline+progressive "
        "JPEG and FLAC decode natively here"
    )


_EMBED_DIM = 8


def _fake_features(payload: bytes | None) -> tuple:
    """Deterministic byte-domain stand-in for a decode: the payload bytes
    as uint8 'pixels' (an empty or NULL payload is one zero byte) →
    (byte_len, byte_mean, byte_std, per-stripe-mean sketch)."""
    a = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float64)
    sketch = np.array(
        [float(s.mean()) if len(s) else 0.0 for s in np.array_split(a, _EMBED_DIM)],
        dtype=np.float32,
    )
    return len(a), float(a.mean()), float(a.std()), sketch


def extract_media_features(media: DataFrame) -> DataFrame:
    """Fake-decode → feature-extract per media row through
    ``rowmap.per_row_map``: (media_id, media_type) + byte-domain stats
    and an ``_EMBED_DIM``-stripe sketch of the raw payload bytes."""
    return per_row_map(
        media, ["media_id", "media_type"], ["payload"], _fake_features,
        FEATURE_SCHEMA.fields[2:],
    )


DECODED_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("sample_mean", T.DoubleType(), True),
        T.StructField("sample_std", T.DoubleType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


def _decoded_features(payload: bytes | None) -> tuple:
    arr, w, h, ch = _decode_real(payload)
    if not len(arr):
        return 0, None, None, w, h, ch
    return len(arr), float(arr.mean()), float(arr.std()), w, h, ch


def extract_decoded_features(media: DataFrame) -> DataFrame:
    """REAL-decode path: codec payloads → decoded-domain features
    (pixel/sample stats + decoded dimensions) through
    ``rowmap.per_row_map`` — same plumbing as extract_media_features but
    the values come from the DECODED samples, not the raw bytes, so
    header parsing, dimension math, row padding and byte order are all
    on the verified path. Audio rows report n_samples with NULL
    width/height."""
    return per_row_map(
        media, ["media_id", "media_type"], ["payload"], _decoded_features,
        DECODED_FEATURE_SCHEMA.fields[2:],
    )
