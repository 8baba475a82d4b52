"""Baseline JPEG (ITU-T T.81) codec, pure Python + numpy.

Motion-JPEG is the simplest real compressed-video format — each AVI
frame chunk is a complete baseline JPEG — so a working baseline JPEG
decoder turns the FileStore's AVI demux (multimodal._decode_avi) into
a genuine compressed-video decode path with no third-party codec
library. Inter-frame codecs such as H.264 are not supported.

Scope: sequential baseline DCT, 8-bit, single component (grayscale),
no subsampling, no restart markers — the exact profile the synthetic
MJPG payloads use, and the hot subset of what a training-data
thumbnail pipeline decodes. Everything below is from the public spec:
the zigzag order, the Annex K.3.3 luminance Huffman tables, canonical
code assignment (C.2), DC prediction + AC run/size coding (F.1.2),
and the type-II orthonormal DCT pair.

Determinism note (what the oracle gate rides on): for an image whose
8x8 blocks are each CONSTANT, the only nonzero coefficient is the DC
term 8*(v-128); with the DC quantizer set to 8 the quantized value is
exactly v-128 and the decoder reproduces v bit-exactly — so an
encode->decode roundtrip of constant-block frames is LOSSLESS and a
DuckDB oracle can recompute the decoded means in closed form
(multimodal_video_mjpg). Arbitrary images roundtrip within normal
quantization error, bounded in tests/test_multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

# quantization: DC step 8 makes constant blocks lossless (see module
# docstring); flat AC step 16 is a mid-quality choice for real content
_QUANT = np.full(64, 16, dtype=np.int32)
_QUANT[0] = 8

# zigzag scan: ZIGZAG[k] = natural (row-major) index of the k-th
# coefficient in scan order (T.81 Figure A.6)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3.3.1/2: typical luminance Huffman tables
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _canonical_codes(bits, vals):
    """C.2 canonical assignment: value -> (code, length)."""
    out = {}
    code, i = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


def _decode_table(bits, vals):
    """(length, code) -> value, for the bit-at-a-time decoder."""
    return {(ln, code): v for v, (code, ln) in
            _canonical_codes(bits, vals).items()}


# orthonormal type-II DCT basis: dct2(B) = C @ B @ C.T
_C = np.array([
    [(np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
     * np.cos((2 * x + 1) * u * np.pi / 16) for x in range(8)]
    for u in range(8)
])


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if (self.pos >= len(self.data)
                        or self.data[self.pos] != 0x00):
                    raise ValueError("unexpected marker in scan")
                self.pos += 1  # unstuff
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table) -> int:
        code, ln = 0, 0
        while ln <= 16:
            code = (code << 1) | self.read_bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid Huffman code in scan")


def _magnitude(v: int) -> tuple[int, int]:
    """F.1.2.1: value -> (size category, appended bits)."""
    if v == 0:
        return 0, 0
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _extend(bits: int, s: int) -> int:
    """F.2.2.1 EXTEND: appended bits -> signed value."""
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def encode_gray(pixels: np.ndarray) -> bytes:
    """Encode an (h, w) uint8 array as a baseline grayscale JPEG.
    Dimensions not multiple of 8 are edge-replicated to the block
    grid (the decoder crops back per the SOF dims)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    h, w = pixels.shape
    bh, bw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(pixels, ((0, bh - h), (0, bw - w)), mode="edge")

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = _QUANT  # stored in zigzag order (all-equal AC: same)
    dqt = seg(0xFFDB, b"\x00" + bytes(int(q) for q in zz_quant))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
              + bytes((1, 0x11, 0)))
    dht = (seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
           + seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)))
    sos = seg(0xFFDA, b"\x01" + bytes((1, 0x00)) + bytes((0, 63, 0)))

    bw_ = _BitWriter()
    pred = 0
    shifted = padded.astype(np.float64) - 128.0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            block = shifted[by:by + 8, bx:bx + 8]
            coef = _C @ block @ _C.T
            q = np.rint(coef.reshape(64) / _QUANT).astype(np.int64)
            zz = [int(q[ZIGZAG[k]]) for k in range(64)]
            s, bits = _magnitude(zz[0] - pred)
            pred = zz[0]
            c, ln = _DC_ENC[s]
            bw_.write(c, ln)
            if s:
                bw_.write(bits, s)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = _AC_ENC[0xF0]  # ZRL
                    bw_.write(c, ln)
                    run -= 16
                s, bits = _magnitude(zz[k])
                c, ln = _AC_ENC[(run << 4) | s]
                bw_.write(c, ln)
                bw_.write(bits, s)
                run = 0
            if last_nz < 63:
                c, ln = _AC_ENC[0x00]  # EOB
                bw_.write(c, ln)
    return (b"\xff\xd8" + dqt + sof + dht + sos
            + bw_.flush() + b"\xff\xd9")


def decode_gray(payload: bytes) -> dict:
    """Decode a baseline grayscale JPEG produced by any conformant
    encoder within this codec's profile (8-bit, 1 component, no
    subsampling, no restart markers). Returns width/height/n_channels
    plus the decoded raster's pixel sum and mean (what the multimodal
    queries certify)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant = None
    dc_tab = ac_tab = None
    w = h = None
    scan_start = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT (8-bit tables only in baseline use)
            if body[0] & 0xF0:
                raise NotImplementedError("16-bit quant table")
            quant = np.array(list(body[1:65]), dtype=np.int32)
        elif marker == 0xC0:  # SOF0
            _, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if ncomp != 1:
                raise NotImplementedError(
                    f"baseline gray decoder: {ncomp} components")
            if body[7] != 0x11:
                raise NotImplementedError("subsampled JPEG")
        elif marker in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError("non-baseline JPEG")
        elif marker == 0xC4:  # DHT (possibly several per segment)
            off = 0
            while off < len(body):
                tc = body[off] >> 4
                bits = tuple(body[off + 1:off + 17])
                n = sum(bits)
                vals = tuple(body[off + 17:off + 17 + n])
                if tc == 0:
                    dc_tab = _decode_table(bits, vals)
                else:
                    ac_tab = _decode_table(bits, vals)
                off += 17 + n
        elif marker == 0xDD:
            raise NotImplementedError("restart markers")
        elif marker == 0xDA:  # SOS: entropy data follows
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if any(x is None for x in (quant, dc_tab, ac_tab, w, h, scan_start)):
        raise ValueError("JPEG missing DQT/SOF/DHT/SOS")
    # entropy segment runs to the EOI marker (no restarts)
    end = payload.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("JPEG missing EOI")
    reader = _BitReader(payload[scan_start:end])
    bh, bw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    out = np.zeros((bh, bw), dtype=np.float64)
    dequant = np.zeros(64, dtype=np.float64)
    pred = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            zz = [0] * 64
            s = reader.read_huff(dc_tab)
            diff = _extend(reader.read_bits(s), s) if s else 0
            pred += diff
            zz[0] = pred
            k = 1
            while k < 64:
                rs = reader.read_huff(ac_tab)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC run past block end")
                zz[k] = _extend(reader.read_bits(s), s)
                k += 1
            for k in range(64):
                dequant[ZIGZAG[k]] = zz[k] * quant[k]
            block = _C.T @ dequant.reshape(8, 8) @ _C
            out[by:by + 8, bx:bx + 8] = block
    raster = np.clip(np.rint(out[:h, :w] + 128.0), 0, 255
                     ).astype(np.uint8)
    total = int(raster.sum())
    return {"width": w, "height": h, "n_channels": 1,
            "pixel_sum": total,
            "mean_pixel": total / (w * h),
            "raster": raster}
