"""FLAC codec (multimodal.flac): losslessness makes every round-trip an
exact oracle — decode(encode(x)) must equal x bit-for-bit."""

import numpy as np
import pytest

from combinedfeatureextraction_spark.multimodal.flac import (
    _Bits,
    decode_flac,
    encode_flac_numpy,
)


def _plant(n, channels, bps=16, seed=7):
    rng = np.random.default_rng(seed)
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    return rng.integers(lo, hi + 1, size=(n, channels)).astype(np.int64)


def test_verbatim_roundtrip_mono_and_stereo():
    for channels in (1, 2, 3):
        x = _plant(64, channels)
        flat, rate, ch = decode_flac(encode_flac_numpy(x, sample_rate=8000))
        assert (rate, ch) == (8000, channels)
        assert np.array_equal(flat.reshape(-1, channels), x)


def test_fixed2_rice_roundtrip():
    # smooth signal (small 2nd differences -> small Rice residuals) and
    # a rough one (exercises long unary quotients)
    t = np.arange(200)
    smooth = (1000 * np.sin(t / 9)).astype(np.int64)[:, None]
    rng = np.random.default_rng(11)
    rough = smooth + rng.integers(-40, 41, size=smooth.shape)
    for x, p in ((smooth, 3), (rough, 6)):
        flat, _, ch = decode_flac(encode_flac_numpy(x, subframe="fixed2",
                                                    rice_param=p))
        assert np.array_equal(flat.reshape(-1, 1), x), p


def test_flac_8bit_and_24bit():
    for bps in (8, 24):
        x = _plant(32, 1, bps=bps)
        flat, _, _ = decode_flac(encode_flac_numpy(x, bps=bps))
        assert np.array_equal(flat.reshape(-1, 1), x), bps


def test_flac_dispatch_in_decode_real():
    from combinedfeatureextraction_spark.multimodal.binary import _decode_real

    x = _plant(16, 2)
    flat = _decode_real(encode_flac_numpy(x))[0]
    assert np.array_equal(flat.reshape(-1, 2), x)


def test_flac_rejects_garbage():
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"RIFFxxxx")
    x = _plant(16, 1)
    payload = bytearray(encode_flac_numpy(x))
    # corrupt the frame sync (first byte after the 42-byte header+SI)
    payload[42] ^= 0xFF
    with pytest.raises(ValueError):
        decode_flac(bytes(payload))


def test_flac_utf8_frame_number_and_side_channels():
    """Hand-build a left-side stereo frame to cover the decorrelation +
    difference-channel extra bit, and a 2-byte UTF-8 frame number."""
    from combinedfeatureextraction_spark.multimodal.flac import (
        _BitWriter,
        _crc8,
        _crc16,
    )

    left = np.array([100, -5, 37, 2000], dtype=np.int64)
    right = np.array([90, 15, -4, -1800], dtype=np.int64)
    side = left - right
    n, bps, rate = 4, 16, 8000
    si = _BitWriter()
    for v, w in ((n, 16), (n, 16), (0, 24), (0, 24), (rate, 20),
                 (1, 3), (bps - 1, 5), (n, 36), (0, 128)):
        si.write(v, w)
    out = bytearray(b"fLaC") + bytes([0x80]) + len(si.out).to_bytes(3, "big")
    out += si.out
    hdr = _BitWriter()
    hdr.write(0x3FFE, 14)
    hdr.write(0, 2)
    hdr.write(7, 4)   # 16-bit block size
    hdr.write(0, 4)   # rate from STREAMINFO
    hdr.write(8, 4)   # LEFT-SIDE stereo
    hdr.write(4, 3)   # 16 bps
    hdr.write(0, 1)
    # frame number 0x80 -> 2-byte UTF-8 (C2 80)
    hdr.write(0xC2, 8)
    hdr.write(0x80, 8)
    hdr.write(n - 1, 16)
    hdr.align()
    hb = bytes(hdr.out)
    fr = _BitWriter()
    for byte in hb:
        fr.write(byte, 8)
    fr.write(_crc8(hb), 8)
    for x, width in ((left, bps), (side, bps + 1)):
        fr.write(0, 1)
        fr.write(1, 6)  # VERBATIM
        fr.write(0, 1)
        for v in x:
            fr.write(int(v), width)
    fr.align()
    body = bytes(fr.out)
    out += body + _crc16(body).to_bytes(2, "big")
    flat, _, ch = decode_flac(bytes(out))
    got = flat.reshape(-1, 2)
    assert ch == 2
    assert np.array_equal(got[:, 0], left)
    assert np.array_equal(got[:, 1], right)


def test_bits_reader_signed_and_unary():
    # bit stream: 1 011 00 01 | 110 10 000
    b = _Bits(bytes([0b10110001, 0b11010000]))
    assert b.read(1) == 1
    assert b.read_signed(3) == 3  # 011, sign bit clear
    assert b.read_signed(2) == 0  # 00
    assert b.unary() == 1  # 0 then 1
    assert b.read(3) == 0b110
    assert b.read_signed(2) == -2  # 0b10 -> sign bit set

