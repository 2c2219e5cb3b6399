"""Pure-stdlib baseline JPEG codec (SURVEY X-codec seam, round-4).

The JPEG standard (ITU-T T.81) splits decoding into an EXACT half and an
implementation-defined half: marker parsing + Huffman entropy decoding +
dequantization reconstruct the quantized DCT coefficients bit-exactly in
every conforming decoder, while the inverse DCT is only specified to an
accuracy bound (Annex A) — different decoders legitimately differ by
±1/pixel. This module follows that split:

 - :func:`decode_jpeg_coeffs` — markers, Huffman tables, byte-stuffing
   bit reader, DC prediction, AC run-length, dequantization → per-block
   coefficient arrays, for sequential (SOF0/SOF1) AND PROGRESSIVE
   (SOF2) streams: the multi-scan engine handles spectral selection,
   successive approximation (DC first/refine, AC band first/refine with
   EOB runs and correction bits — T.81 Annex G) with sequential falling
   out as the Ss=0/Se=63/Ah=Al=0 special case. EXACT, so
   coefficient-domain features are externally oracle-able
   (the ``media_decode_jpeg`` analytic oracle), and a progressive and a
   baseline encoding of the same image decode to BIT-IDENTICAL
   coefficients (pinned vs ImageIO-written pairs in tests).
 - :func:`decode_jpeg` — adds the float IDCT + level shift + clamp for
   pixel output; pinned against Java ImageIO within the spec's ±1
   tolerance (tests), exact-dimension parity.
 - :func:`encode_jpeg_gray_numpy` — test-rig encoder: builds a valid
   baseline grayscale JPEG from CHOSEN quantized coefficient blocks
   using the Annex K.3 typical Huffman tables, so planted-coefficient
   fixtures have closed-form decoded values.

Supported: baseline + progressive Huffman DCT, 8-bit, grayscale and
YCbCr 4:4:4 / 4:2:0 decode, restart markers. Lossless/arithmetic/12-bit
JPEG raise NotImplementedError — the codec seam narrows to those plus
FLAC/MP4. Reference analog: the slide-payload decode path S2
(FeatureExtractor.py:300).
"""

from __future__ import annotations

import numpy as np

# zigzag order: index i of the scan -> (row, col) in the 8x8 block
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 "typical" Huffman tables: (bits[1..16], values)
_K3_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


class _HuffTable:
    """Canonical Huffman table from the DHT (bits, values) spec form,
    compiled to a 16-bit-window lookup (r04-verdict item 5): JPEG codes
    are ≤ 16 bits, so ``lut_len/lut_val[next16bits]`` resolve any symbol
    in ONE table probe instead of a bit-at-a-time tree walk. The LUT is
    filled with vectorized numpy range-assignments at DHT parse time and
    kept as plain Python lists (C-speed scalar indexing, no numpy
    boxing in the per-symbol loop)."""

    # LUT compilation is ~ms (65536-entry fills + tolist); a corpus
    # decodes thousands of images sharing a handful of table specs
    # (often exactly the Annex K.3 typical tables), so compiled tables
    # are cached per (bits, values) spec — without this the per-image
    # DHT parse dominates the whole decode
    _cache: dict[tuple, "_HuffTable"] = {}

    # bound the cache: ~1 MB of LUT lists per distinct spec would
    # otherwise accumulate for the life of the Python worker on a corpus
    # with many custom tables; rebuild on miss is only ~ms
    _CACHE_MAX = 64

    def __new__(cls, bits: list[int], values: list[int]) -> "_HuffTable":
        key = (tuple(bits), tuple(values))
        hit = cls._cache.get(key)
        if hit is not None:
            return hit
        self = super().__new__(cls)
        self._build(bits, values)
        if len(cls._cache) >= cls._CACHE_MAX:
            cls._cache.clear()
        cls._cache[key] = self
        return self

    def __init__(self, bits: list[int], values: list[int]) -> None:
        pass  # construction happens in _build via the caching __new__

    def _build(self, bits: list[int], values: list[int]) -> None:
        lut_len = np.zeros(1 << 16, dtype=np.uint8)
        lut_val = np.zeros(1 << 16, dtype=np.uint8)
        code = 0
        k = 0
        self.enc: dict[int, tuple[int, int]] = {}
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = (code + 1) << (16 - length)
                lut_len[lo:hi] = length
                lut_val[lo:hi] = values[k]
                self.enc[values[k]] = (length, code)
                code += 1
                k += 1
            code <<= 1
        self.lut_len = lut_len.tolist()
        self.lut_val = lut_val.tolist()

    def decode(self, reader: "_EntropyReader") -> int:
        key = reader.peek16()
        n = self.lut_len[key]
        if n == 0:
            raise ValueError("invalid JPEG Huffman code")
        reader.nbits -= n
        reader.consumed += n
        return self.lut_val[key]


def _extract_entropy_segments(
    payload: bytes, pos: int
) -> tuple[list[bytes], int]:
    """Pre-scan one scan's entropy-coded data: remove 0xFF00 byte
    stuffing and split at RSTn markers, using C-speed ``bytes.find``
    instead of per-byte Python. Returns (segments, marker_pos) where
    ``segments`` has one unstuffed byte run per restart interval and
    ``marker_pos`` is the terminating (non-RST) marker's position."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(payload)
    i = pos
    while True:
        j = payload.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            raise ValueError("JPEG truncated: no trailing marker")
        cur += payload[i:j]
        nxt = payload[j + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
        elif nxt == 0xFF:  # T.81 B.1.1.2 fill byte
            i = j + 1
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:
            segs.append(bytes(cur))
            return segs, j


class _EntropyReader:
    """MSB-first bit reader over PRE-UNSTUFFED entropy segments (one per
    restart interval): a plain byte-windowed accumulator — refilled a
    byte at a time, peeked 16 bits at a time — with no marker/stuffing
    checks left in the hot loop. ``consumed`` vs the segment's real bit
    length is validated at scan end (truncation check parity with the
    old per-bit reader)."""

    __slots__ = ("segments", "seg_idx", "data", "nreal", "p", "acc",
                 "nbits", "consumed")

    def __init__(self, segments: list[bytes]) -> None:
        self.segments = segments
        self.seg_idx = 0
        self._load(0)

    def _load(self, i: int) -> None:
        # 3 zero pad bytes let the final ≤16-bit peek window run past
        # the true end; `consumed` still counts only real consumption
        self.data = self.segments[i] + b"\x00\x00\x00"
        self.nreal = len(self.segments[i]) * 8
        self.p = 0
        self.acc = 0
        self.nbits = 0
        self.consumed = 0

    def check_not_truncated(self) -> None:
        if self.consumed > self.nreal:
            raise ValueError("JPEG entropy data truncated")

    def next_segment(self) -> None:
        self.check_not_truncated()
        self.seg_idx += 1
        if self.seg_idx >= len(self.segments):
            raise ValueError("JPEG entropy data truncated (missing RST)")
        self._load(self.seg_idx)

    # NOTE on the three refill loops below: a truncated/corrupt entropy
    # stream can decode garbage zero bits from the 3-byte pad and then
    # run past it; the IndexError from self.data[self.p] is re-raised as
    # the documented ValueError (try/except is zero-cost on the non-
    # raising hot path in CPython 3.11+).

    def peek16(self) -> int:
        try:
            while self.nbits < 16:
                self.acc = ((self.acc << 8) | self.data[self.p]) & 0xFFFFFFFF
                self.p += 1
                self.nbits += 8
        except IndexError:
            raise ValueError("JPEG entropy data truncated") from None
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        try:
            while self.nbits < n:
                self.acc = ((self.acc << 8) | self.data[self.p]) & 0xFFFFFFFF
                self.p += 1
                self.nbits += 8
        except IndexError:
            raise ValueError("JPEG entropy data truncated") from None
        self.nbits -= n
        self.consumed += n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def bit(self) -> int:
        if self.nbits == 0:
            try:
                self.acc = ((self.acc << 8) | self.data[self.p]) & 0xFFFFFFFF
            except IndexError:
                raise ValueError("JPEG entropy data truncated") from None
            self.p += 1
            self.nbits = 8
        self.nbits -= 1
        self.consumed += 1
        return (self.acc >> self.nbits) & 1

    def receive_extend(self, n: int) -> int:
        """receive(n) + T.81 F.12 EXTEND in one step."""
        if n == 0:
            return 0
        v = self.receive(n)
        return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


class _ScanState:
    """Mutable per-image entropy-decode state shared across scans:
    per-component zigzag-order coefficient stores (progressive scans
    successively refine them), DC predictors, and the AC end-of-band
    run counter."""

    def __init__(self, comps, mcus_x, mcus_y):
        self.zz = {
            idx: np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
            for idx, (_, hs, vs, _) in enumerate(comps)
        }
        self.pred = {idx: 0 for idx in range(len(comps))}
        self.eobrun = 0

    def reset_restart(self):
        self.pred = {idx: 0 for idx in self.pred}
        self.eobrun = 0


def _decode_block(
    zz_blk, reader, state, idx, dc_tab, ac_tab, ss, se, ah, al
):
    """Decode one data unit's contribution for the scan band Ss..Se at
    approximation (Ah, Al) — T.81 F.2 (sequential falls out as
    Ss=0/Se=63/Ah=Al=0) and G.1.2 (progressive DC/AC first + refine)."""
    if ss == 0:
        if ah == 0:  # DC first (or sequential)
            t = dc_tab.decode(reader)
            if t > 11:
                raise ValueError("bad DC category")
            state.pred[idx] += reader.receive_extend(t)
            zz_blk[0] = state.pred[idx] << al
        else:  # DC refinement: one raw bit
            if reader.bit():
                zz_blk[0] |= 1 << al
        k = 1
    else:
        k = ss
    if se < max(ss, 1):
        return
    if ah == 0:  # AC first pass (or sequential)
        if state.eobrun > 0:
            state.eobrun -= 1
            return
        while k <= se:
            rs = ac_tab.decode(reader)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                state.eobrun = (1 << r) - 1 + reader.receive(r)
                break  # EOB(RUN) — counts this block
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            zz_blk[k] = reader.receive_extend(s) << al
            k += 1
    else:  # AC refinement (G.1.2.3)
        p1, m1 = 1 << al, -1 << al
        if state.eobrun == 0:
            while k <= se:
                rs = ac_tab.decode(reader)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        # NOT pre-decremented: the EOB-run branch below
                        # must still consume THIS block's correction
                        # bits before counting it off
                        state.eobrun = (1 << r) + reader.receive(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("bad refinement magnitude")
                    val = p1 if reader.bit() else m1
                # advance r zero-history positions, emitting correction
                # bits for nonzero-history positions passed on the way
                while k <= se:
                    if zz_blk[k] != 0:
                        if reader.bit() and (zz_blk[k] & p1) == 0:
                            zz_blk[k] += p1 if zz_blk[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    zz_blk[k] = val
                k += 1
        if state.eobrun > 0:
            while k <= se:  # EOB run covers this block: corrections only
                if zz_blk[k] != 0:
                    if reader.bit() and (zz_blk[k] & p1) == 0:
                        zz_blk[k] += p1 if zz_blk[k] >= 0 else m1
                k += 1
            state.eobrun -= 1


def _expect_restart(reader, state):
    """Advance to the next restart interval's pre-split segment (the pad
    bits and the RSTn id were consumed by the pre-scan) and reset
    predictors."""
    reader.next_segment()
    state.reset_restart()


def decode_jpeg_coeffs(payload: bytes):
    """EXACT half of JPEG decode: entropy-decode + dequantize every
    scan — baseline sequential (SOF0/SOF1) in one scan, PROGRESSIVE
    (SOF2) across its spectral-selection / successive-approximation
    scan sequence (T.81 Annex G: DC first+refine, per-component AC
    bands with EOB runs, AC refinement correction bits). Returns
    (coeffs, meta): ``coeffs`` maps component index → float64 array
    (blocks_v, blocks_h, 8, 8) of DEQUANTIZED DCT coefficients in
    natural (row, col) order; ``meta`` has width/height/components/
    sampling/progressive."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    dqt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffTable] = {}
    ac_tabs: dict[int, _HuffTable] = {}
    sof = None
    progressive = False
    restart_interval = 0
    state = None
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — skip them instead of misparsing 0xFF as a marker id
        # with a bogus segment length
        while pos + 2 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            break
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        size = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + size]
        seg_end = pos + 2 + size
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                p += 1
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                q = np.zeros(64)
                q[_ZIGZAG] = np.frombuffer(body[p : p + 64], np.uint8)
                dqt[tq] = q.reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                values = list(body[p + 17 : p + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _HuffTable(bits, values)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            if body[0] != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            progressive = marker == 0xC2
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            comps = []
            for c in range(body[5]):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            sof = (w, h, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            state = _ScanState(comps, mcus_x, mcus_y)
            comp_by_id = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/progressive Huffman JPEG supported "
                "(lossless/arithmetic variants are not)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — decode one scan's entropy data
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scomp = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0xF)
                for c in range(ns)
            ]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            segments, scan_end = _extract_entropy_segments(payload, seg_end)
            reader = _EntropyReader(segments)
            state.eobrun = 0
            state.pred = {i: 0 for i in state.pred}
            if ns > 1:  # interleaved: MCU order over the padded grid
                mcu = 0
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        if (restart_interval and mcu
                                and mcu % restart_interval == 0):
                            _expect_restart(reader, state)
                        for cs, td, ta in scomp:
                            i = comp_by_id[cs]
                            _, hs, vs, _ = comps[i]
                            for by in range(vs):
                                for bx in range(hs):
                                    _decode_block(
                                        state.zz[i][my * vs + by, mx * hs + bx],
                                        reader, state, i,
                                        dc_tabs.get(td), ac_tabs.get(ta),
                                        ss, se, ah, al,
                                    )
                        mcu += 1
            else:  # non-interleaved: the component's own unpadded grid
                cs, td, ta = scomp[0]
                i = comp_by_id[cs]
                _, hs, vs, _ = comps[i]
                cw = -(-(w * hs) // hmax)  # component pixel dims (T.81 A.1.1)
                ch = -(-(h * vs) // vmax)
                bw, bh = -(-cw // 8), -(-ch // 8)
                unit = 0
                for by in range(bh):
                    for bx in range(bw):
                        if (restart_interval and unit
                                and unit % restart_interval == 0):
                            _expect_restart(reader, state)
                        _decode_block(
                            state.zz[i][by, bx], reader, state, i,
                            dc_tabs.get(td), ac_tabs.get(ta), ss, se, ah, al,
                        )
                        unit += 1
            reader.check_not_truncated()
            pos = scan_end
            continue
        pos = seg_end
    if sof is None or state is None:
        raise ValueError("missing SOF/SOS")
    w, h, comps = sof
    grids = {}
    for i, (cid, hs, vs, tq) in enumerate(comps):
        zz = state.zz[i].astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, :, _ZIGZAG] = zz
        grids[i] = nat.reshape(*zz.shape[:2], 8, 8) * dqt[tq]
    meta = {
        "width": w,
        "height": h,
        "n_components": len(comps),
        "sampling": [(c[1], c[2]) for c in comps],
        "mcus": (mcus_x, mcus_y),
        "progressive": progressive,
    }
    return grids, meta


def _idct_2d(blocks: np.ndarray) -> np.ndarray:
    """Float 2-D type-III DCT over the last two axes (8x8), the JPEG
    reconstruction transform (accuracy per Annex A — pixel output may
    differ ±1 from other conforming decoders)."""
    k = np.arange(8)
    c = np.where(k == 0, 1.0 / np.sqrt(2.0), 1.0)
    basis = c * np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)  # (x,u)
    # out[..., x, y] = sum_u sum_v basis[x,u] basis[y,v] coef[..., u, v] / 4
    return np.einsum("xu,yv,...uv->...xy", basis, basis, blocks) / 4.0


def _h2v2_fancy_upsample(p: np.ndarray) -> np.ndarray:
    """libjpeg's h2v2 "fancy" (triangle-filter) chroma upsampling
    (jdsample.c): each output pixel is the 9:3:3:1 blend of the four
    nearest chroma samples, with the exact integer colsum/shift/rounding
    sequence (8 on even columns, 7 on odd) so our 4:2:0 reconstruction
    tracks ImageIO/libjpeg closely. Edge replication falls out of the
    clamped shifts. Input: int samples (h, w); output (2h, 2w)."""
    h, w = p.shape
    up = np.vstack([p[:1], p[:-1]])
    dn = np.vstack([p[1:], p[-1:]])
    out = np.empty((2 * h, 2 * w), np.int64)
    for adj, rows in ((up, slice(0, 2 * h, 2)), (dn, slice(1, 2 * h, 2))):
        t = 3 * p + adj  # vertical colsums
        last = np.hstack([t[:, :1], t[:, :-1]])
        nxt = np.hstack([t[:, 1:], t[:, -1:]])
        out[rows, 0::2] = (3 * t + last + 8) >> 4
        out[rows, 1::2] = (3 * t + nxt + 7) >> 4
    return out


def decode_jpeg(payload: bytes):
    """Full pixel decode: coefficients → IDCT → +128 level shift → clamp
    → (for 3 components) YCbCr→RGB with chroma upsampling (libjpeg-style
    fancy triangle filter for 4:2:0, nearest otherwise). Returns
    (flat float64 samples row-major [RGB interleaved for color], width,
    height, channels)."""
    grids, meta = decode_jpeg_coeffs(payload)
    w, h = meta["width"], meta["height"]
    hmax = max(hs for hs, _ in meta["sampling"])
    vmax = max(vs for _, vs in meta["sampling"])
    planes = []
    for idx in range(meta["n_components"]):
        hs, vs = meta["sampling"][idx]
        px = _idct_2d(grids[idx]) + 128.0
        bv, bh = px.shape[0], px.shape[1]
        img = px.transpose(0, 2, 1, 3).reshape(bv * 8, bh * 8)
        ry, rx = vmax // vs, hmax // hs
        if ry == 2 and rx == 2:
            samples = np.clip(np.round(img), 0, 255).astype(np.int64)
            img = _h2v2_fancy_upsample(samples).astype(np.float64)
        elif ry > 1 or rx > 1:
            img = np.repeat(np.repeat(img, ry, axis=0), rx, axis=1)
        planes.append(img[:h, :w])
    if meta["n_components"] == 1:
        return np.clip(np.round(planes[0]), 0, 255).ravel(), w, h, 1
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).ravel(), w, h, 3


def encode_jpeg_gray_numpy(
    qblocks: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Test-rig ENCODER: a valid grayscale JPEG whose entropy data
    encodes exactly the given QUANTIZED coefficient blocks (``qblocks``:
    int array (by, bx, 8, 8) in natural order), using the Annex K.3
    typical Huffman tables and ``quant`` (8x8, default all ones so
    dequantized == planted). Lets fixtures plant coefficients whose
    decoded values are closed-form — the media_decode_jpeg oracle.
    ``progressive=True`` emits the SAME coefficients as a minimal SOF2
    spectral-selection stream (scan 1: DC band; scan 2: AC band 1..63)
    so the multi-scan decode path can be gated against the identical
    planted values."""
    qblocks = np.asarray(qblocks, dtype=np.int64)
    if progressive and restart_interval:
        raise ValueError("rig encoder: pick progressive OR restart_interval")
    by, bx = qblocks.shape[0], qblocks.shape[1]
    h, w = by * 8, bx * 8
    quant = np.ones((8, 8), dtype=np.int64) if quant is None else np.asarray(
        quant, dtype=np.int64
    )
    dc_tab = _HuffTable(*_K3_DC_LUMA)
    ac_tab = _HuffTable(*_K3_AC_LUMA)

    out = bytearray()
    bitbuf = [0, 0]  # value, nbits

    def put_bits(code: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            bitbuf[0] = (bitbuf[0] << 1) | ((code >> i) & 1)
            bitbuf[1] += 1
            if bitbuf[1] == 8:
                b = bitbuf[0] & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
                bitbuf[0] = bitbuf[1] = 0

    def put_huff(tab: _HuffTable, sym: int) -> None:
        n, code = tab.enc[sym]
        put_bits(code, n)

    def magnitude(v: int) -> tuple[int, int]:
        n = int(v).bit_length() if v > 0 else int(-v).bit_length()
        bits = v if v >= 0 else v + (1 << n) - 1
        return n, bits

    def flush_pad() -> None:
        if bitbuf[1]:
            pad = 8 - bitbuf[1]
            put_bits((1 << pad) - 1, pad)

    def enc_dc(zz, pred: int) -> int:
        dc = int(zz[0])
        n, bits = magnitude(dc - pred) if dc != pred else (0, 0)
        put_huff(dc_tab, n)
        if n:
            put_bits(bits, n)
        return dc

    def enc_ac(zz) -> None:
        nz = np.flatnonzero(zz[1:])
        last_nz = (nz[-1] + 1) if len(nz) else 0
        run, k = 0, 1
        while k <= last_nz:
            v = int(zz[k])
            if v == 0:
                run += 1
                k += 1
                continue
            while run > 15:
                put_huff(ac_tab, 0xF0)  # ZRL
                run -= 16
            n, bits = magnitude(v)
            put_huff(ac_tab, (run << 4) | n)
            put_bits(bits, n)
            run = 0
            k += 1
        if last_nz < 63:
            # EOB — in a progressive AC-first scan this is EOBRUN=1,
            # i.e. exactly "end this block": same bits, same meaning
            put_huff(ac_tab, 0x00)

    zzs = [
        qblocks[yb, xb].reshape(64)[_ZIGZAG]
        for yb in range(by)
        for xb in range(bx)
    ]
    sections = []
    if progressive:
        pred = 0
        for zz in zzs:  # scan 1: DC band only
            pred = enc_dc(zz, pred)
        flush_pad()
        sections.append(bytes(out))
        out.clear()
        for zz in zzs:  # scan 2: AC band 1..63
            enc_ac(zz)
        flush_pad()
        sections.append(bytes(out))
    else:
        pred = 0
        mcu = 0
        for zz in zzs:
            if restart_interval and mcu and mcu % restart_interval == 0:
                flush_pad()
                out.extend(
                    bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)])
                )
                pred = 0
            mcu += 1
            pred = enc_dc(zz, pred)
            enc_ac(zz)
        flush_pad()
        sections.append(bytes(out))

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    # quant arrives in natural (row, col) order; DQT stores zigzag order
    zz_quant = quant.reshape(64)[_ZIGZAG]
    dqt = seg(0xDB, bytes([0x00]) + bytes(int(x) for x in zz_quant))
    sof = seg(
        0xC2 if progressive else 0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    def dht(tc_th: int, bits_vals) -> bytes:
        bits, vals = bits_vals
        return seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    dri = (
        seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    if progressive:
        scans = (
            seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + sections[0]
            + seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0])) + sections[1]
        )
    else:
        scans = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + sections[0]
    return (
        b"\xff\xd8" + dqt + sof + dht(0x00, _K3_DC_LUMA)
        + dht(0x10, _K3_AC_LUMA) + dri + scans + b"\xff\xd9"
    )
