"""Deconvolution column math vs a numpy oracle; multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def test_unmix_matches_numpy(spark):
    from combinedfeatureextraction_spark.functions.deconvolution import (
        DEFAULT_STAIN_MATRIX,
        unmix_channels,
    )

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame(
        {
            "r": rng.integers(0, 255, 200).astype(float),
            "g": rng.integers(0, 255, 200).astype(float),
            "b": rng.integers(0, 255, 200).astype(float),
        }
    )
    df = spark.createDataFrame(pdf)
    u = unmix_channels(["r", "g", "b"], DEFAULT_STAIN_MATRIX)
    got = (
        df.select(*[c.alias(f"u{i}") for i, c in enumerate(u)])
        .toPandas()
        .values
    )
    # numpy oracle: a direct vectorization of the reference loop
    # (PAS_deconvolution.py:72-89), including scaled OD, the -255 offset,
    # the 255 clip and the floor(x+0.5) rounding
    m = np.asarray(DEFAULT_STAIN_MATRIX)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    minv = np.linalg.inv(m)
    log255 = np.log(255.0)
    od = -(255.0 * np.log((pdf.values + 1.0) / 255.0)) / log255
    acc = od @ minv
    want = np.exp(-(acc - 255.0) * log255 / 255.0)
    want = np.floor(np.minimum(want, 255.0) + 0.5)
    assert np.array_equal(got, want)


def test_media_feature_plumbing(spark):
    from combinedfeatureextraction_spark.multimodal.binary import (
        extract_media_features,
    )

    pdf = pd.DataFrame(
        {
            "media_id": [1, 2, 3],
            "media_type": ["image", "video", "video"],
            "payload": [b"abcdef", b"xyz", b""],
            "meta": [
                {"width": 2, "height": 3, "n_frames": 0, "sample_rate": 0},
                {"width": 4, "height": 4, "n_frames": 25, "sample_rate": 0},
                {"width": 1, "height": 1, "n_frames": 3, "sample_rate": 0},
            ],
        }
    )
    from combinedfeatureextraction_spark.multimodal.binary import MEDIA_SCHEMA

    media = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    feats = extract_media_features(media).orderBy("media_id").toPandas()
    assert feats["byte_len"].tolist() == [6, 3, 1]
    assert np.isclose(feats["byte_mean"][0], np.frombuffer(b"abcdef", np.uint8).mean())
    assert all(len(e) == 8 for e in feats["fake_embedding"])


def test_media_real_decode_raises(spark):
    import pytest

    from combinedfeatureextraction_spark.multimodal.binary import _decode_real

    with pytest.raises(NotImplementedError):
        _decode_real(b"x")


# ----------------------------------- real codecs (pure numpy, no libs)


def test_decode_ppm_roundtrip():
    from combinedfeatureextraction_spark.multimodal.binary import decode_ppm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    payload = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    arr, w, h, ch = decode_ppm(payload)
    assert (w, h, ch) == (7, 5, 3)
    assert (arr == img.astype(np.float64).ravel()).all()
    gray = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    arr, w, h, ch = decode_ppm(b"P5 6 4 255\n" + gray.tobytes())
    assert (w, h, ch) == (6, 4, 1)
    assert (arr == gray.astype(np.float64).ravel()).all()


def test_decode_wav_roundtrip():
    import struct

    from combinedfeatureextraction_spark.multimodal.binary import decode_wav

    rng = np.random.default_rng(4)
    samples = rng.integers(-32768, 32768, 33, dtype=np.int16)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    arr, rate, ch = decode_wav(payload)
    assert (rate, ch) == (8000, 1)
    assert (arr == samples.astype(np.float64)).all()


def test_decode_bmp_roundtrip():
    import struct

    from combinedfeatureextraction_spark.multimodal.binary import decode_bmp

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)  # h=3 w=5 RGB
    stride = (5 * 3 + 3) & ~3
    rows = []
    for r in range(2, -1, -1):  # bottom-up
        row = img[r, :, ::-1].tobytes()  # RGB → BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pixel_data = b"".join(rows)
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 24, 0, len(pixel_data),
                      2835, 2835, 0, 0)
    )
    arr, w, h, ch = decode_bmp(header + pixel_data)
    assert (w, h, ch) == (5, 3, 3)
    assert (arr == img.astype(np.float64).ravel()).all()


def test_decode_unknown_magic_raises():
    import pytest as _pytest

    from combinedfeatureextraction_spark.multimodal.binary import _decode_real

    with _pytest.raises(NotImplementedError):
        # MP4 (ftyp box): the remaining codec seam — FLAC decodes
        # natively since r05 (multimodal.flac)
        _decode_real(b"\x00\x00\x00\x18ftypisom....")


def test_decode_png_roundtrip_all_filters_and_channels():
    """encode -> decode is the identity for every color type and every
    scanline filter (incl. the default cycling mix), so all five
    unfilter branches are on the verified path."""
    from combinedfeatureextraction_spark.multimodal.binary import (
        decode_png,
        encode_png_numpy,
    )

    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        for h, w in ((1, 1), (3, 5), (17, 9)):
            img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
            for filters in (None, [0], [1], [2], [3], [4]):
                arr, W, H, C = decode_png(encode_png_numpy(img, filters))
                assert (W, H, C) == (w, h, ch)
                assert (arr == img.astype(np.float64).ravel()).all(), (
                    ch, h, w, filters,
                )


def test_decode_png_crc_and_multi_idat():
    import zlib

    import pytest as _pytest

    from combinedfeatureextraction_spark.multimodal.binary import (
        decode_png,
        encode_png_numpy,
    )

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    png = encode_png_numpy(img, [0])
    # corrupt one byte inside the IHDR chunk -> CRC failure
    broken = bytearray(png)
    broken[20] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(broken))
    # split the IDAT chunk in two: decoders must concatenate streams
    sig, pos, out = png[:8], 8, png[:8]
    while pos + 8 <= len(png):
        size = int.from_bytes(png[pos : pos + 4], "big")
        ctype = png[pos + 4 : pos + 8]
        body = png[pos + 8 : pos + 8 + size]
        pos += 12 + size
        parts = [(ctype, body)] if ctype != b"IDAT" else [
            (b"IDAT", body[:7]), (b"IDAT", body[7:]),
        ]
        for ct, b in parts:
            out += (
                len(b).to_bytes(4, "big") + ct + b
                + (zlib.crc32(ct + b) & 0xFFFFFFFF).to_bytes(4, "big")
            )
    arr, w, h, ch = decode_png(out)
    assert (w, h, ch) == (4, 6, 3)
    assert (arr == img.astype(np.float64).ravel()).all()


def test_png_parity_vs_java_imageio(tmp_path):
    """Independent spec-conformance check: our encoder's output decodes
    byte-identically under Java ImageIO (present in this container), and
    our decoder reproduces a PNG *written by* Java ImageIO — so the
    codec isn't just self-consistent. Skipped when no JDK."""
    import shutil
    import subprocess

    import pytest as _pytest

    from combinedfeatureextraction_spark.multimodal.binary import (
        decode_png,
        encode_png_numpy,
    )

    if not (shutil.which("javac") and shutil.which("java")):
        _pytest.skip("no JDK in PATH")
    (tmp_path / "PngDump.java").write_text(
        "import javax.imageio.ImageIO;\n"
        "import java.awt.image.*;\nimport java.io.File;\n"
        "public class PngDump {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    BufferedImage i = ImageIO.read(new File(a[0]));\n"
        "    Raster r = i.getRaster(); int nb = r.getNumBands();\n"
        "    System.out.println(i.getWidth()+\" \"+i.getHeight()+\" \"+nb);\n"
        "    for (int y=0;y<i.getHeight();y++) for (int x=0;x<i.getWidth();x++){\n"
        "      StringBuilder s = new StringBuilder();\n"
        "      for (int b=0;b<nb;b++){ if(b>0)s.append(' ');"
        " s.append(r.getSample(x,y,b)); }\n"
        "      System.out.println(s); } } }\n"
    )
    (tmp_path / "PngMake.java").write_text(
        "import javax.imageio.ImageIO;\n"
        "import java.awt.image.BufferedImage;\nimport java.io.File;\n"
        "public class PngMake {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    int w=23,h=17;\n"
        "    BufferedImage i = new BufferedImage(w,h,BufferedImage.TYPE_INT_RGB);\n"
        "    for (int y=0;y<h;y++) for (int x=0;x<w;x++)\n"
        "      i.setRGB(x,y,(((x*7+y*13)%256)<<16)|(((x*3+y*31)%256)<<8)"
        "|((x*17+y*5)%256));\n"
        "    ImageIO.write(i,\"png\",new File(a[0])); } }\n"
    )
    subprocess.run(
        ["javac", "PngDump.java", "PngMake.java"], cwd=tmp_path, check=True
    )
    rng = np.random.default_rng(11)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, (9, 7, ch), dtype=np.uint8)
        (tmp_path / "t.png").write_bytes(encode_png_numpy(img))
        out = subprocess.run(
            ["java", "-cp", ".", "PngDump", "t.png"], cwd=tmp_path,
            capture_output=True, text=True, check=True,
        ).stdout.split("\n")
        w, h, nb = map(int, out[0].split())
        px = np.array(
            [list(map(int, ln.split())) for ln in out[1 : 1 + w * h]]
        ).reshape(h, w, nb)
        assert (w, h, nb) == (7, 9, ch) and (px == img).all(), ch
    subprocess.run(
        ["java", "-cp", ".", "PngMake", "jm.png"], cwd=tmp_path, check=True
    )
    arr, w, h, ch = decode_png((tmp_path / "jm.png").read_bytes())
    assert (w, h, ch) == (23, 17, 3)
    exp = np.array(
        [
            [[(x * 7 + y * 13) % 256, (x * 3 + y * 31) % 256, (x * 17 + y * 5) % 256]
             for x in range(23)]
            for y in range(17)
        ],
        dtype=np.float64,
    )
    assert (arr.reshape(17, 23, 3) == exp).all()
