"""Pure-stdlib baseline JPEG codec (multimodal/jpeg.py): the EXACT half
(entropy + dequant) must round-trip planted coefficients bit-exactly;
the pixel half (IDCT/upsample/color) is pinned against Java ImageIO
within the spec's IDCT tolerance."""

from __future__ import annotations

import shutil
import subprocess

import numpy as np
import pytest

_DUMP_JAVA = (
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

_MAKE_JAVA = (
    "import javax.imageio.*;\nimport javax.imageio.stream.*;\n"
    "import java.awt.image.*;\nimport java.io.File;\n"
    "import java.util.Iterator;\n"
    "public class JpegMake {\n"
    "  public static void main(String[] a) throws Exception {\n"
    "    int w=37,h=29;\n"
    "    BufferedImage g = new BufferedImage(w,h,BufferedImage.TYPE_BYTE_GRAY);\n"
    "    for (int y=0;y<h;y++) for (int x=0;x<w;x++)"
    " g.getRaster().setSample(x,y,0,(x*7+y*13)%256);\n"
    "    ImageIO.write(g,\"jpg\",new File(\"jg.jpg\"));\n"
    "    BufferedImage c = new BufferedImage(w,h,BufferedImage.TYPE_INT_RGB);\n"
    "    for (int y=0;y<h;y++) for (int x=0;x<w;x++)\n"
    "      c.setRGB(x,y,(((x*7+y*13)%256)<<16)|(((x*3+y*31)%256)<<8)"
    "|((x*17+y*5)%256));\n"
    "    ImageIO.write(c,\"jpg\",new File(\"jc.jpg\"));\n"
    "    ImageWriter wr = ImageIO.getImageWritersByFormatName(\"jpg\").next();\n"
    "    ImageWriteParam p = wr.getDefaultWriteParam();\n"
    "    p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);\n"
    "    Object[][] jobs = {{g, \"pg.jpg\"}, {c, \"pc.jpg\"}};\n"
    "    for (Object[] j : jobs) {\n"
    "      ImageOutputStream os = ImageIO.createImageOutputStream("
    "new File((String)j[1]));\n"
    "      wr.setOutput(os);\n"
    "      wr.write(null, new IIOImage((BufferedImage)j[0], null, null), p);\n"
    "      os.close(); } } }\n"
)


def _rand_coeffs(rng, by=3, bx=4):
    q = rng.integers(-40, 41, size=(by, bx, 8, 8))
    q[:, :, 5:, :] = 0  # sparsity -> runs / ZRL / EOB
    q[0, 0] = 0  # pure-EOB block
    return q


def test_coefficient_roundtrip_exact():
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )

    rng = np.random.default_rng(5)
    for _ in range(3):
        q = _rand_coeffs(rng)
        grids, meta = decode_jpeg_coeffs(encode_jpeg_gray_numpy(q))
        assert meta["width"] == 32 and meta["height"] == 24
        assert np.array_equal(grids[0], q.astype(np.float64))


def test_coefficient_roundtrip_with_restart_markers():
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )

    rng = np.random.default_rng(6)
    q = _rand_coeffs(rng)
    for ri in (1, 2, 5):
        grids, _ = decode_jpeg_coeffs(
            encode_jpeg_gray_numpy(q, restart_interval=ri)
        )
        assert np.array_equal(grids[0], q.astype(np.float64)), ri


def test_quant_table_applies():
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )

    q = np.zeros((1, 1, 8, 8), np.int64)
    q[0, 0, 0, 0] = 5
    q[0, 0, 1, 2] = -3
    quant = np.full((8, 8), 2, np.int64)
    quant[0, 0] = 16
    grids, _ = decode_jpeg_coeffs(encode_jpeg_gray_numpy(q, quant=quant))
    assert grids[0][0, 0, 0, 0] == 80.0  # 5 * 16
    assert grids[0][0, 0, 1, 2] == -6.0  # -3 * 2


def test_lossless_and_arithmetic_raise():
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )

    payload = bytearray(encode_jpeg_gray_numpy(np.zeros((1, 1, 8, 8))))
    i = payload.find(b"\xff\xc0")
    for sof in (0xC3, 0xC9):  # lossless / arithmetic-coded
        payload[i + 1] = sof
        with pytest.raises(NotImplementedError, match="arithmetic"):
            decode_jpeg_coeffs(bytes(payload))


def test_jpeg_pixel_parity_vs_imageio(tmp_path):
    """Pixel half vs Java ImageIO (libjpeg-derived): our encoded gray
    JPEG decodes under ImageIO within the Annex-A IDCT tolerance (±1);
    ImageIO-WRITTEN gray and 4:2:0 color JPEGs decode here within a
    small bound (gray ±1; color ±3 — IDCT variance + fixed-point color
    conversion, with our libjpeg-style fancy chroma upsampling)."""
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_gray_numpy,
    )

    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("no JDK in PATH")
    (tmp_path / "PngDump.java").write_text(_DUMP_JAVA)
    (tmp_path / "JpegMake.java").write_text(_MAKE_JAVA)
    subprocess.run(
        ["javac", "PngDump.java", "JpegMake.java"], cwd=tmp_path, check=True
    )

    def java_dump(name):
        out = subprocess.run(
            ["java", "-cp", ".", "PngDump", name], cwd=tmp_path,
            capture_output=True, text=True, check=True,
        ).stdout.split("\n")
        w, h, nb = map(int, out[0].split())
        return (
            np.array([list(map(int, ln.split())) for ln in out[1 : 1 + w * h]])
            .reshape(h, w, nb)
            .astype(float)
        )

    rng = np.random.default_rng(7)
    payload = encode_jpeg_gray_numpy(_rand_coeffs(rng))
    (tmp_path / "ours.jpg").write_bytes(payload)
    theirs = java_dump("ours.jpg")
    flat, w, h, ch = decode_jpeg(payload)
    assert (theirs.shape[1], theirs.shape[0]) == (w, h) and ch == 1
    assert np.abs(theirs[:, :, 0] - flat.reshape(h, w)).max() <= 1.0

    subprocess.run(["java", "-cp", ".", "JpegMake"], cwd=tmp_path, check=True)
    for name, maxdiff in (
        ("jg.jpg", 1.0), ("jc.jpg", 3.0),  # baseline sequential
        ("pg.jpg", 1.0), ("pc.jpg", 3.0),  # PROGRESSIVE (SOF2)
    ):
        data = (tmp_path / name).read_bytes()
        flat, w, h, ch = decode_jpeg(data)
        theirs = java_dump(name)
        assert (theirs.shape[1], theirs.shape[0], theirs.shape[2]) == (w, h, ch)
        d = np.abs(theirs - flat.reshape(h, w, ch))
        assert d.max() <= maxdiff, (name, d.max())

    # the strongest progressive check: ImageIO encodes the SAME image
    # baseline and progressive with the same quantization, so the
    # dequantized coefficients must round-trip BIT-IDENTICALLY through
    # our two entropy-decode paths (sequential vs the multi-scan
    # spectral-selection / successive-approximation machinery).
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg_coeffs,
    )

    for base, prog in (("jg.jpg", "pg.jpg"), ("jc.jpg", "pc.jpg")):
        gb, mb = decode_jpeg_coeffs((tmp_path / base).read_bytes())
        gp, mp = decode_jpeg_coeffs((tmp_path / prog).read_bytes())
        assert not mb["progressive"] and mp["progressive"]
        for i in gb:
            assert np.array_equal(gb[i], gp[i]), (base, prog, i)


def test_decode_real_dispatches_jpeg():
    from combinedfeatureextraction_spark.multimodal.binary import _decode_real
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        encode_jpeg_gray_numpy,
    )

    q = np.zeros((1, 2, 8, 8), np.int64)
    q[0, 0, 0, 0] = 80  # DC-only: pixels = 80/8 + 128 = 138 in block 0
    arr = _decode_real(encode_jpeg_gray_numpy(q))[0]
    assert len(arr) == 16 * 8
    assert np.allclose(arr.reshape(8, 16)[:, :8], 138.0)
    assert np.allclose(arr.reshape(8, 16)[:, 8:], 128.0)
