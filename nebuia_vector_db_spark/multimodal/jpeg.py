"""Pure numpy/stdlib JPEG codec — baseline AND progressive, gray + color.

Third REAL codec behind the multimodal surface (with png.py and
wav.py; the reference engine is text+vector only, main.go:25-75 —
this module is extension surface). Implements the baseline sequential
DCT process of ITU-T T.81:

- **decoder**: full marker parse (SOI / APPn skipped / DQT / SOF0 /
  DHT / DRI / SOS / EOI), canonical Huffman table reconstruction from
  the DHT bits/values lists, entropy decode with 0xFF00
  byte-unstuffing and RSTn resync, DC prediction, dezigzag,
  dequantize, 8×8 inverse DCT, level shift. Single-component
  (grayscale) scans AND interleaved 3-component YCbCr scans with
  per-component sampling factors up to 2×2 (4:4:4, 4:2:2, 4:2:0):
  chroma planes are decoded at their subsampled resolution, upsampled
  by pixel replication, and converted to RGB with the JFIF matrix;
- **encoder**: RGB→YCbCr (color), 2×2 box-filter chroma downsampling
  (4:2:0), forward DCT, quantization with the Annex K.1/K.2
  luminance/chrominance tables scaled by a libjpeg-style quality
  factor, zigzag, DC differencing, canonical Huffman encode (Annex
  K.3 typical tables, both pairs) with byte stuffing, interleaved
  MCU order, emitting the exact tables it uses in DQT/DHT (so ANY
  baseline decoder can read the stream).

**Progressive mode (SOF2, T.81 Annex G)** is fully supported in both
directions (round 4): spectral selection + successive approximation
scan scripts (libjpeg-style default or caller-provided), EOBn
end-of-band runs, ZRL-with-correction-bits refinement coding, DC/AC
refinement scans, per-scan OPTIMIZED Huffman tables built by the
Annex K.2 procedure (required — the K.3 typical tables lack the EOBn
symbols), and RSTn restarts inside every scan. The progressive
encoder shares the baseline's DCT/quantization front end while the
decoder reconstructs coefficients through the entirely different
Annex-G entropy layer, so progressive decode ≡ baseline decode
bit-for-bit on every image — the cross-check the test suite pins on
random inputs.

The 2-D DCT is exact matrix arithmetic (C · B · Cᵀ with the
orthonormal DCT-II basis), validated in tests against a literal
four-loop transcription of the T.81 definition; the color transform
is validated against a literal per-pixel transcription of the JFIF
formulas. Sampling factors above 2 are out of scope — the decoder
rejects them cleanly rather than mis-decoding.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegFormatError(ValueError):
    """Raised when the payload is not a decodable baseline JPEG."""


# ---------------------------------------------------------------- constants
# zigzag scan order: index i of the zigzag sequence -> (row, col)
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 else rc[0],
        ),
    )
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()          # zz index -> raster index

# Annex K.1 luminance quantization table (raster order)
_QTABLE_K1 = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex K.3 typical Huffman tables for luminance DC / AC:
# (bits[1..16], values)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]

# Annex K.2 typical chrominance quantization table (raster order)
_QTABLE_K2 = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex K.3 typical Huffman tables for chrominance DC / AC
_DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_C_VALS = list(range(12))
_AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_C_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(_AC_C_BITS) == len(_AC_C_VALS) == 162
assert sum(_AC_BITS) == len(_AC_VALS) == 162

# orthonormal 8-point DCT-II basis: T[k, n] = c(k) cos((2n+1)kπ/16)
_DCT_T = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _dct2(block: np.ndarray) -> np.ndarray:
    return _DCT_T @ block @ _DCT_T.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _DCT_T.T @ coef @ _DCT_T


def _scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - q * 2
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def quality_qtable(quality: int) -> np.ndarray:
    """libjpeg-style quality scaling of the K.1 luminance table."""
    return _scale_qtable(_QTABLE_K1, quality)


def quality_qtable_chroma(quality: int) -> np.ndarray:
    """libjpeg-style quality scaling of the K.2 chrominance table."""
    return _scale_qtable(_QTABLE_K2, quality)


# ------------------------------------------------------------ color space
def rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF full-range RGB → (Y, Cb, Cr) float64 planes."""
    x = np.asarray(img, dtype=np.float64)
    r, g, b = x[..., 0], x[..., 1], x[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return y, cb, cr


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """JFIF (Y, Cb, Cr) planes → uint8 RGB (h, w, 3)."""
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -------------------------------------------------------------- bit streams
class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            b = (self._acc >> self._nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


class _BitReader:
    """Entropy-segment reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def read_bit(self) -> int:
        if self._nbits == 0:
            if self.pos >= len(self.data):
                raise JpegFormatError("entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise JpegFormatError("entropy stream truncated")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise JpegFormatError(
                        f"unexpected marker 0xFF{nxt:02X} inside scan"
                    )
            self._acc = b
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


# ----------------------------------------------------------- huffman tables
def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per the T.81 canonical construction."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    def __init__(self, bits: list[int], vals: list[int]):
        # (length, code) -> value; decode bit-by-bit
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            v = self.lut.get((length, code))
            if v is not None:
                return v
        raise JpegFormatError("invalid Huffman code")


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, amplitude bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v & ((1 << size) - 1)


def _extend(bits: int, size: int) -> int:
    """Inverse of magnitude coding (T.81 F.12 EXTEND)."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# ------------------------------------------------------------------ encoder
def _plane_to_zz(padded: np.ndarray, qt: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Level-shift, DCT, quantize and zigzag every 8×8 block of an
    8-multiple-padded float plane in one einsum; returns
    (zz rows in block-raster order, block rows, block cols)."""
    bh, bwid = padded.shape[0] // 8, padded.shape[1] // 8
    blocks = (
        padded.reshape(bh, 8, bwid, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coefs = np.einsum("ij,bjk,lk->bil", _DCT_T, blocks, _DCT_T)
    zz = (
        np.round(coefs / qt[None, :, :])
        .astype(np.int64)
        .reshape(-1, 64)[:, _ZIGZAG]
    )
    return zz, bh, bwid


def _write_block(
    bw: "_BitWriter",
    zz: np.ndarray,
    prev_dc: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Entropy-code one zigzagged block; returns the new DC predictor."""
    size, ampl = _magnitude(int(zz[0]) - prev_dc)
    code, length = dc_codes[size]
    bw.write(code, length)
    bw.write(ampl, size)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, ampl = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(ampl, size)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg_gray(
    img: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode a 2-D uint8 array as a baseline grayscale JPEG.

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every N MCUs (byte-aligned entropy segments with DC prediction
    reset) — the mechanism hardware/parallel decoders use to resync,
    and the fixture generator for the decoder's restart path."""
    img = np.asarray(img)
    if img.ndim != 2:
        raise JpegFormatError("encoder takes a 2-D grayscale array")
    h, w = img.shape
    if h == 0 or w == 0:
        raise JpegFormatError("empty image")
    qt = quality_qtable(quality)
    # pad to 8x8 multiples by edge replication; every block is
    # DCT'd/quantized in one einsum (the per-block loop only does
    # entropy coding, which is inherently sequential bit work)
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    zz_all, _, _ = _plane_to_zz(padded, qt)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    mcu = 0
    for zz in zz_all:
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()  # byte-align before the marker (T.81 F.1.2.3)
            bw.out += bytes(
                [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
            )
            prev_dc = 0
        mcu += 1
        prev_dc = _write_block(bw, zz, prev_dc, dc_codes, ac_codes)
    bw.flush()

    qt_zz = qt.reshape(64)[_ZIGZAG]
    out = b"\xff\xd8"  # SOI
    out += _seg(0xFFDB, bytes([0x00]) + bytes(int(x) for x in qt_zz))  # DQT
    out += _seg(  # SOF0: 8-bit, h, w, 1 component, no subsampling, qtable 0
        0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    out += _seg(  # SOS: 1 component, DC table 0 / AC table 0
        0xFFDA, bytes([1, 1, 0x00, 0, 63, 0])
    )
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return out


def encode_jpeg_color(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline YCbCr JPEG.

    ``subsampling``: ``"420"`` (2×2 luma blocks per MCU, chroma
    box-filtered 2× in both axes — the ubiquitous web/camera layout)
    or ``"444"`` (no subsampling). Luminance uses the K.1 table +
    K.3 luminance Huffman pair (ids 0), chrominance the K.2 table +
    chrominance pair (ids 1). ``restart_interval`` > 0 emits DRI +
    RSTn every N MCUs with all three DC predictors reset."""
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3:
        raise JpegFormatError("color encoder takes an (h, w, 3) array")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise JpegFormatError("empty image")
    if subsampling not in ("420", "444"):
        raise JpegFormatError(f"unsupported subsampling {subsampling!r}")
    sub = subsampling == "420"
    y, cb, cr = rgb_to_ycbcr(img)
    mcu_px = 16 if sub else 8
    ph, pw = -h % mcu_px, -w % mcu_px
    pad = lambda p: np.pad(p, ((0, ph), (0, pw)), mode="edge")  # noqa: E731
    y, cb, cr = pad(y), pad(cb), pad(cr)
    if sub:
        # 2x2 box filter, matching the replication upsample on decode
        cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean((1, 3))
        cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean((1, 3))

    qt_l = quality_qtable(quality)
    qt_c = quality_qtable_chroma(quality)
    zz_y, by, bx = _plane_to_zz(y, qt_l)
    zz_cb, cby, cbx = _plane_to_zz(cb, qt_c)
    zz_cr, _, _ = _plane_to_zz(cr, qt_c)

    dc_l = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_l = _canonical_codes(_AC_BITS, _AC_VALS)
    dc_c = _canonical_codes(_DC_C_BITS, _DC_C_VALS)
    ac_c = _canonical_codes(_AC_C_BITS, _AC_C_VALS)

    bw = _BitWriter()
    pred = [0, 0, 0]  # Y, Cb, Cr DC predictors
    mcu = 0
    mcy, mcx = cby, cbx  # MCU grid == chroma block grid in both modes
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes(
                    [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
                )
                pred = [0, 0, 0]
            mcu += 1
            if sub:  # 2x2 luma blocks in raster order within the MCU
                for vy in (0, 1):
                    for vx in (0, 1):
                        zz = zz_y[(my * 2 + vy) * bx + (mx * 2 + vx)]
                        pred[0] = _write_block(bw, zz, pred[0], dc_l, ac_l)
            else:
                pred[0] = _write_block(
                    bw, zz_y[my * bx + mx], pred[0], dc_l, ac_l
                )
            pred[1] = _write_block(bw, zz_cb[my * cbx + mx], pred[1], dc_c, ac_c)
            pred[2] = _write_block(bw, zz_cr[my * cbx + mx], pred[2], dc_c, ac_c)
    bw.flush()

    samp_y = 0x22 if sub else 0x11
    out = b"\xff\xd8"  # SOI
    out += _seg(
        0xFFDB, bytes([0x00]) + bytes(int(x) for x in qt_l.reshape(64)[_ZIGZAG])
    )
    out += _seg(
        0xFFDB, bytes([0x01]) + bytes(int(x) for x in qt_c.reshape(64)[_ZIGZAG])
    )
    out += _seg(  # SOF0: 3 components — Y (qtable 0), Cb/Cr (qtable 1)
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _seg(0xFFC4, bytes([0x01]) + bytes(_DC_C_BITS) + bytes(_DC_C_VALS))
    out += _seg(0xFFC4, bytes([0x11]) + bytes(_AC_C_BITS) + bytes(_AC_C_VALS))
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out += _seg(  # SOS: Y tables 0/0, chroma tables 1/1
        0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return out


# ------------------------------------------------------------------ decoder
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline JPEG: 2-D uint8 for grayscale streams,
    (h, w, 3) uint8 RGB for 3-component YCbCr streams.

    Fail-closed boundary: ANY malformation — including corruptions
    that slip past the targeted checks (e.g. a DHT whose bit counts
    overrun its value list) — surfaces as :class:`JpegFormatError`,
    never a raw IndexError/struct.error escaping into the caller
    (fuzz-pinned in tests/test_codec_fuzz.py)."""
    try:
        return _decode_jpeg_impl(payload)
    except JpegFormatError:
        raise
    except (IndexError, ValueError, struct.error, OverflowError) as e:
        # OverflowError: a corrupt DHT can decode an absurd magnitude
        # size whose amplitude no longer fits the int64 coefficient
        raise JpegFormatError(f"corrupt JPEG stream: {e}") from e


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Decode any supported baseline JPEG to a 2-D uint8 luma array:
    grayscale streams decode directly; color streams decode fully and
    return the JFIF luma of the reconstructed RGB (the shape the
    image-stats kernels in multimodal/assets.py consume)."""
    out = decode_jpeg(payload)
    if out.ndim == 2:
        return out
    y, _, _ = rgb_to_ycbcr(out)
    return np.clip(np.round(y), 0, 255).astype(np.uint8)


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise JpegFormatError("not a JPEG stream (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    h = w = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    restart_interval = 0
    progressive = False
    prog_coefs = None  # per-comp (BV, BH, 64) zigzag coefficient arrays
    prog_dims = None   # per-comp non-interleaved (bv, bh) block dims
    prog_mcx = prog_mcy = 0

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        marker = (payload[pos] << 8) | payload[pos + 1]
        pos += 2
        if marker == 0xFFD9:  # EOI
            if progressive and prog_coefs is not None:
                qts = []
                for cid, hs, vs, tq in comps:
                    if tq not in qtables:
                        raise JpegFormatError("missing quant table")
                    qts.append(qtables[tq])
                return _reconstruct_progressive(
                    [(cid, hs, vs) for cid, hs, vs, _ in comps],
                    prog_dims, prog_coefs, qts, h, w,
                )
            break
        if pos + 2 > len(payload):
            raise JpegFormatError("truncated marker segment")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        if seg_len < 2 or pos + seg_len > len(payload):
            raise JpegFormatError("truncated marker segment")
        body = payload[pos + 2 : pos + seg_len]
        if marker == 0xFFDB:  # DQT (possibly several tables)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq != 0:
                    raise JpegFormatError("16-bit quant tables unsupported")
                zz = np.frombuffer(
                    body[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                raster = np.empty(64, dtype=np.int64)
                raster[_ZIGZAG] = zz
                qtables[tq] = raster.reshape(8, 8)
                off += 65
        elif marker in (0xFFC0, 0xFFC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xFFC2
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise JpegFormatError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                raise JpegFormatError(
                    f"{ncomp}-component streams unsupported"
                )
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                sampling = body[7 + 3 * ci]
                tq = body[8 + 3 * ci]
                hs, vs = sampling >> 4, sampling & 0xF
                if hs not in (1, 2) or vs not in (1, 2):
                    raise JpegFormatError(
                        f"sampling factor {hs}x{vs} unsupported"
                    )
                comps.append((cid, hs, vs, tq))
            if ncomp == 1 and comps[0][1:3] != (1, 1):
                raise JpegFormatError("subsampled single component")
        elif marker in (0xFFC1, 0xFFC3):
            raise JpegFormatError("only SOF0/SOF2 processes supported")
        elif marker == 0xFFC4:  # DHT (possibly several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(body[off + 17 : off + 17 + nvals])
                dec = _HuffDecoder(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                off += 17 + nvals
        elif marker == 0xFFDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:  # SOS — entropy data follows
            if h is None or not comps:
                raise JpegFormatError("SOS before SOF")
            ns = body[0]
            if progressive:
                if len(body) < 4 + 2 * ns:
                    raise JpegFormatError("truncated progressive SOS")
                ss_, se_ = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                ah_, al_ = ahal >> 4, ahal & 0xF
                if not (0 <= ss_ <= se_ <= 63) or (ss_ == 0) != (se_ == 0):
                    raise JpegFormatError("invalid spectral band")
                if ah_ != 0 and ah_ != al_ + 1:
                    raise JpegFormatError("invalid successive approximation")
                if ss_ > 0 and ns != 1:
                    raise JpegFormatError("AC scans must be single-component")
                if prog_coefs is None:
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    prog_mcx = (w + 8 * hmax - 1) // (8 * hmax)
                    prog_mcy = (h + 8 * vmax - 1) // (8 * vmax)
                    prog_coefs, prog_dims = [], []
                    for cid, hs, vs, tq in comps:
                        prog_coefs.append(
                            np.zeros(
                                (prog_mcy * vs, prog_mcx * hs, 64),
                                dtype=np.int64,
                            )
                        )
                        ch = (h * vs + vmax - 1) // vmax
                        cw = (w * hs + hmax - 1) // hmax
                        prog_dims.append(((ch + 7) // 8, (cw + 7) // 8))
                frame_cids = [c[0] for c in comps]
                scan_plan = []
                for si in range(ns):
                    scid = body[1 + 2 * si]
                    td = body[2 + 2 * si] >> 4
                    ta = body[2 + 2 * si] & 0xF
                    if scid not in frame_cids:
                        raise JpegFormatError(f"unknown scan component {scid}")
                    ci = frame_cids.index(scid)
                    dc_dec = ac_dec = None
                    if ss_ == 0 and ah_ == 0:
                        if td not in huff_dc:
                            raise JpegFormatError("scan references missing DHT")
                        dc_dec = huff_dc[td]
                    elif ss_ > 0:
                        if ta not in huff_ac:
                            raise JpegFormatError("scan references missing DHT")
                        ac_dec = huff_ac[ta]
                    scan_plan.append((ci, dc_dec, ac_dec))
                pos = _dec_scan_progressive(
                    payload, pos + seg_len, scan_plan,
                    [(cid, hs, vs) for cid, hs, vs, _ in comps],
                    prog_dims, prog_coefs, ss_, se_, ah_, al_,
                    restart_interval, prog_mcx, prog_mcy,
                )
                continue
            if ns != len(comps):
                raise JpegFormatError(
                    "scan component count differs from frame "
                    "(non-interleaved multi-scan unsupported)"
                )
            # scan-order table ids matched to frame components by id
            tables_by_cid = {}
            for si in range(ns):
                scid = body[1 + 2 * si]
                td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
                tables_by_cid[scid] = (td, ta)
            plan = []
            for cid, hs, vs, tq in comps:
                if cid not in tables_by_cid:
                    raise JpegFormatError(f"scan missing component {cid}")
                td, ta = tables_by_cid[cid]
                if (
                    td not in huff_dc
                    or ta not in huff_ac
                    or tq not in qtables
                ):
                    raise JpegFormatError("scan references missing DHT/DQT")
                plan.append(
                    (hs, vs, qtables[tq], huff_dc[td], huff_ac[ta])
                )
            if len(comps) == 1:
                return _decode_scan(
                    payload, pos + seg_len, h, w, plan[0][2], plan[0][3],
                    plan[0][4], restart_interval,
                )
            return _decode_scan_color(
                payload, pos + seg_len, h, w, plan, restart_interval
            )
        # APPn / COM / anything else: skip
        pos += seg_len
    raise JpegFormatError("no SOS marker found")


def _resync_rst(br: _BitReader) -> None:
    """Byte-align, skip pad/fill bytes (incl. a stuffed 0xFF00 pad),
    consume the RSTn marker."""
    br._nbits = 0
    for _ in range(4):
        if (
            br.pos + 1 < len(br.data)
            and br.data[br.pos] == 0xFF
            and 0xD0 <= br.data[br.pos + 1] <= 0xD7
        ):
            br.pos += 2
            return
        br.pos += 1
    raise JpegFormatError("expected RSTn marker")


def _decode_block(
    br: _BitReader, dc: _HuffDecoder, ac: _HuffDecoder, prev_dc: int
) -> tuple[np.ndarray, int]:
    """Entropy-decode one block; returns (raster 8×8 coefs, new DC)."""
    zz = np.zeros(64, dtype=np.int64)
    size = dc.decode(br)
    prev_dc += _extend(br.read_bits(size), size)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = ac.decode(br)
        run, size = rs >> 4, rs & 0xF
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise JpegFormatError("AC run past end of block")
        zz[k] = _extend(br.read_bits(size), size)
        k += 1
    raster = np.empty(64, dtype=np.int64)
    raster[_ZIGZAG] = zz
    return raster.reshape(8, 8), prev_dc


def _decode_scan(
    payload: bytes,
    pos: int,
    h: int,
    w: int,
    qt: np.ndarray,
    dc: _HuffDecoder,
    ac: _HuffDecoder,
    restart_interval: int,
) -> np.ndarray:
    br = _BitReader(payload, pos)
    bh, bwid = (h + 7) // 8, (w + 7) // 8
    out = np.empty((bh * 8, bwid * 8), dtype=np.float64)
    prev_dc = 0
    mcu = 0
    for by in range(bh):
        for bx in range(bwid):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _resync_rst(br)
                prev_dc = 0
            raster, prev_dc = _decode_block(br, dc, ac, prev_dc)
            block = _idct2(raster * qt) + 128.0
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
            mcu += 1
    return np.clip(np.round(out[:h, :w]), 0, 255).astype(np.uint8)


def _decode_scan_color(
    payload: bytes,
    pos: int,
    h: int,
    w: int,
    plan: list,  # per component: (hs, vs, qt, dc_decoder, ac_decoder)
    restart_interval: int,
) -> np.ndarray:
    """Interleaved 3-component scan: per MCU, hs×vs blocks of each
    component in turn (T.81 A.2.3 ordering), each with its own
    quantizer, Huffman pair and DC predictor. Chroma planes decode at
    subsampled resolution and upsample by pixel replication."""
    br = _BitReader(payload, pos)
    hmax = max(c[0] for c in plan)
    vmax = max(c[1] for c in plan)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.empty((mcy * vs * 8, mcx * hs * 8), dtype=np.float64)
        for hs, vs, _, _, _ in plan
    ]
    pred = [0] * len(plan)
    mcu = 0
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _resync_rst(br)
                pred = [0] * len(plan)
            mcu += 1
            for ci, (hs, vs, qt, dc, ac) in enumerate(plan):
                for vy in range(vs):
                    for vx in range(hs):
                        raster, pred[ci] = _decode_block(
                            br, dc, ac, pred[ci]
                        )
                        block = _idct2(raster * qt) + 128.0
                        r0 = (my * vs + vy) * 8
                        c0 = (mx * hs + vx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = block
    full = []
    for (hs, vs, _, _, _), plane in zip(plan, planes):
        if hs < hmax or vs < vmax:
            plane = plane.repeat(vmax // vs, axis=0).repeat(
                hmax // hs, axis=1
            )
        full.append(plane[:h, :w])
    return ycbcr_to_rgb(full[0], full[1], full[2])


# ------------------------------------------------ optimized Huffman (K.2)
def _build_huffman(freq: np.ndarray) -> tuple[list[int], list[int]]:
    """Length-limited (16) canonical Huffman table from symbol
    frequencies, per the T.81 Annex K.2 procedure (Figures K.1-K.4):
    pairwise merge of least-frequent symbols tracking code sizes, the
    BITS length-overflow adjustment, and removal of the reserved
    all-ones code point. Progressive scans REQUIRE custom tables — the
    Annex K.3 "typical" AC tables lack the EOBn run symbols
    (0x10..0xE0) — and the same builder gives optimized tables for
    any scan."""
    freq = np.asarray(freq, dtype=np.int64).copy()
    if freq.shape[0] < 257:
        freq = np.concatenate(
            [freq, np.zeros(257 - freq.shape[0], dtype=np.int64)]
        )
    freq[256] = 1  # reserved code point: guarantees no all-1s code
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)
    while True:
        nz = np.nonzero(freq)[0]
        if len(nz) <= 1:
            break
        fmin = freq[nz].min()
        v1 = int(nz[freq[nz] == fmin].max())
        nz2 = nz[nz != v1]
        fmin2 = freq[nz2].min()
        v2 = int(nz2[freq[nz2] == fmin2].max())
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = int(others[v1])
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = int(others[v2])
            codesize[v2] += 1
    bits = np.zeros(60, dtype=np.int64)
    for s in range(257):
        if codesize[s]:
            bits[codesize[s]] += 1
    # Figure K.3: fold code lengths > 16 back into the tree
    i = int(np.nonzero(bits)[0].max()) if bits.any() else 0
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # drop the reserved code point from the longest used length
    i = 16
    while i > 0 and bits[i] == 0:
        i -= 1
    if i:
        bits[i] -= 1
    vals = [
        s
        for s in sorted(range(256), key=lambda s: (codesize[s], s))
        if codesize[s] > 0
    ]
    return [int(b) for b in bits[1:17]], vals


# ------------------------------------------------- progressive encoder
class _FreqSink:
    """Pass-1 sink: counts Huffman symbol frequencies, ignores bits."""

    def __init__(self):
        self.freq = np.zeros(256, dtype=np.int64)

    def sym(self, v: int) -> None:
        self.freq[v] += 1

    def bits(self, v: int, n: int) -> None:
        pass

    def rst(self, n: int) -> None:
        pass


class _WriteSink:
    """Pass-2 sink: entropy-writes symbols through a canonical table."""

    def __init__(self, bw: _BitWriter, codes: dict | None):
        self.bw = bw
        self.codes = codes

    def sym(self, v: int) -> None:
        code, length = self.codes[v]
        self.bw.write(code, length)

    def bits(self, v: int, n: int) -> None:
        self.bw.write(v, n)

    def rst(self, n: int) -> None:
        self.bw.flush()
        self.bw.out += bytes([0xFF, 0xD0 + n % 8])


def _ac_point(v: int, al: int) -> int:
    """AC successive-approximation point transform (T.81 G.1.2.2):
    sign-magnitude integer divide by 2^Al (NOT an arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


class _EobRun:
    """Shared EOB-run accumulator for AC scans: counts end-of-band
    blocks and (refinement scans) buffers their correction bits so
    they land immediately after the EOBn code (G.1.2.2-3)."""

    def __init__(self, sink):
        self.sink = sink
        self.count = 0
        self.corr: list[int] = []

    def flush(self) -> None:
        if self.count == 0:
            return
        r = self.count.bit_length() - 1
        self.sink.sym(r << 4)
        if r:
            self.sink.bits(self.count - (1 << r), r)
        for b in self.corr:
            self.sink.bits(b, 1)
        self.count = 0
        self.corr = []

    def add(self, corr_bits: list[int]) -> None:
        self.count += 1
        self.corr.extend(corr_bits)
        if self.count == 0x7FFF:  # EOB14 ceiling
            self.flush()


def _enc_ac_first(sink, zz: np.ndarray, ss: int, se: int, al: int,
                  eob: _EobRun) -> None:
    """First AC scan of a band: magnitude-code the point-transformed
    coefficients with ZRL + EOBn runs."""
    band = [_ac_point(int(zz[k]), al) for k in range(ss, se + 1)]
    if not any(band):
        eob.add([])
        return
    eob.flush()
    run = 0
    last_nz = max(i for i, v in enumerate(band) if v)
    for i, v in enumerate(band[: last_nz + 1]):
        if v == 0:
            run += 1
            continue
        while run > 15:
            sink.sym(0xF0)  # ZRL
            run -= 16
        size, ampl = _magnitude(v)
        sink.sym((run << 4) | size)
        sink.bits(ampl, size)
        run = 0
    if last_nz < len(band) - 1:
        eob.add([])


def _enc_ac_refine(sink, zz: np.ndarray, ss: int, se: int, al: int,
                   eob: _EobRun) -> None:
    """AC refinement scan (G.1.2.3): newly-significant coefficients
    are coded as (run, 1) + sign; already-significant coefficients
    contribute one correction bit each, appended after the symbol (or
    after the EOBn code when inside an end-of-band run)."""
    cur = [_ac_point(int(zz[k]), al) for k in range(ss, se + 1)]
    hist = [_ac_point(int(zz[k]), al + 1) != 0 for k in range(ss, se + 1)]
    newly = [
        i for i, (v, hh) in enumerate(zip(cur, hist))
        if not hh and abs(v) == 1
    ]
    if not newly:
        eob.add([abs(v) & 1 for v, hh in zip(cur, hist) if hh])
        return
    eob.flush()
    run = 0
    corr: list[int] = []
    last_new = newly[-1]
    for i in range(last_new + 1):
        if cur[i] == 0 and not hist[i]:
            run += 1
            continue
        # the ZRL check precedes history-bit buffering at ANY nonzero
        # position: the decoder's ZRL traversal stops at the 16th
        # zero-history coefficient, so a history bit past it must be
        # associated with the NEXT symbol, not this ZRL
        while run > 15:
            sink.sym(0xF0)
            for b in corr:
                sink.bits(b, 1)
            corr = []
            run -= 16
        if hist[i]:
            corr.append(abs(cur[i]) & 1)
            continue
        sink.sym((run << 4) | 1)
        sink.bits(1 if cur[i] > 0 else 0, 1)
        for b in corr:
            sink.bits(b, 1)
        corr = []
        run = 0
    trailing = [abs(v) & 1 for v, hh in
                zip(cur[last_new + 1:], hist[last_new + 1:]) if hh]
    if last_new < len(cur) - 1:
        # corr is empty here: the loop's final iteration emitted the
        # last newly-significant coefficient and flushed it
        eob.add(trailing)


def _prog_scan_blocks(comp_sel, frame_comps, dims, interleaved,
                      mcx, mcy):
    """Yield (ci, by, bx) in scan order: MCU-interleaved when the
    scan has several components, plain block raster otherwise
    (T.81 A.2). One yield per block; the caller indexes the
    coefficient arrays."""
    if interleaved:
        for my in range(mcy):
            for mx in range(mcx):
                for ci in comp_sel:
                    hs, vs = frame_comps[ci][1], frame_comps[ci][2]
                    for vy in range(vs):
                        for vx in range(hs):
                            yield ci, my * vs + vy, mx * hs + vx
    else:
        ci = comp_sel[0]
        bv, bh = dims[ci]
        for by in range(bv):
            for bx in range(bh):
                yield ci, by, bx


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "420",
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode a 2-D grayscale or (h, w, 3) RGB array as a PROGRESSIVE
    JPEG (SOF2, T.81 Annex G): spectral selection + successive
    approximation over a libjpeg-style default scan script, or a
    caller-provided ``scans`` list of ``(comp_indices, Ss, Se, Ah,
    Al)``. Every scan gets its own OPTIMIZED Huffman table built by
    the Annex K.2 procedure (two passes: frequency count, then emit)
    — progressive streams require custom tables because the K.3
    typical tables lack the EOBn symbols. ``restart_interval`` > 0
    emits DRI once and RSTn markers every N MCUs/blocks in every
    scan, resetting DC predictors and EOB runs.

    The DCT/quantization front end is shared with the baseline
    encoder, so the quantized coefficients — and therefore the
    decoded pixels — are IDENTICAL to the baseline stream's; tests
    pin progressive decode ≡ baseline decode bit-for-bit."""
    img = np.asarray(img)
    color = img.ndim == 3
    if color and img.shape[2] != 3:
        raise JpegFormatError("color encoder takes an (h, w, 3) array")
    if not color and img.ndim != 2:
        raise JpegFormatError("encoder takes 2-D gray or (h, w, 3) RGB")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise JpegFormatError("empty image")

    # ---- coefficient front end (shared with baseline) ----------------
    if color:
        if subsampling not in ("420", "444"):
            raise JpegFormatError(f"unsupported subsampling {subsampling!r}")
        sub = subsampling == "420"
        y, cb, cr = rgb_to_ycbcr(img)
        mcu_px = 16 if sub else 8
        ph, pw = -h % mcu_px, -w % mcu_px
        pad = lambda p: np.pad(p, ((0, ph), (0, pw)), mode="edge")  # noqa: E731
        y, cb, cr = pad(y), pad(cb), pad(cr)
        if sub:
            cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean((1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean((1, 3))
        qt_l, qt_c = quality_qtable(quality), quality_qtable_chroma(quality)
        zz_y, by_, bx_ = _plane_to_zz(y, qt_l)
        zz_cb, cby, cbx = _plane_to_zz(cb, qt_c)
        zz_cr, _, _ = _plane_to_zz(cr, qt_c)
        planes = [
            zz_y.reshape(by_, bx_, 64),
            zz_cb.reshape(cby, cbx, 64),
            zz_cr.reshape(cby, cbx, 64),
        ]
        samp = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1), (1, 1), (1, 1)]
        mcy, mcx = cby, cbx
        frame_comps = [(i + 1, hs, vs) for i, (hs, vs) in enumerate(samp)]
        # non-interleaved scans cover ceil(comp_size/8) blocks (T.81
        # A.2.2), NOT the MCU-padded grid the interleaved DC scan uses
        hmax = max(hs for hs, _ in samp)
        vmax = max(vs for _, vs in samp)
        dims = [
            (
                ((h * vs + vmax - 1) // vmax + 7) // 8,
                ((w * hs + hmax - 1) // hmax + 7) // 8,
            )
            for hs, vs in samp
        ]
    else:
        qt_l = quality_qtable(quality)
        ph, pw = -h % 8, -w % 8
        padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
        zz, bv, bh = _plane_to_zz(padded, qt_l)
        planes = [zz.reshape(bv, bh, 64)]
        frame_comps = [(1, 1, 1)]
        dims = [(bv, bh)]
        mcy, mcx = bv, bh

    if scans is None:
        all_c = list(range(len(planes)))
        if color:
            scans = [
                (all_c, 0, 0, 0, 1),
                ([0], 1, 5, 0, 2),
                ([1], 1, 63, 0, 1),
                ([2], 1, 63, 0, 1),
                ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1),
                (all_c, 0, 0, 1, 0),
                ([1], 1, 63, 1, 0),
                ([2], 1, 63, 1, 0),
                ([0], 1, 63, 1, 0),
            ]
        else:
            scans = [
                ([0], 0, 0, 0, 1),
                ([0], 1, 5, 0, 2),
                ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1),
                ([0], 0, 0, 1, 0),
                ([0], 1, 63, 1, 0),
            ]

    # ---- headers -----------------------------------------------------
    out = b"\xff\xd8"
    out += _seg(
        0xFFDB, bytes([0x00]) + bytes(int(x) for x in qt_l.reshape(64)[_ZIGZAG])
    )
    if color:
        out += _seg(
            0xFFDB,
            bytes([0x01]) + bytes(int(x) for x in qt_c.reshape(64)[_ZIGZAG]),
        )
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for i, (cid, hs, vs) in enumerate(frame_comps):
        sof += bytes([cid, (hs << 4) | vs, 0 if i == 0 else 1])
    out += _seg(0xFFC2, sof)  # SOF2: progressive DCT
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))

    # ---- scans -------------------------------------------------------
    for comp_sel, ss, se, ah, al in scans:
        if ss == 0 and se != 0:
            raise JpegFormatError("DC scan must have Se=0")
        if ss > 0 and len(comp_sel) != 1:
            raise JpegFormatError("AC scans are single-component")
        interleaved = ss == 0 and len(comp_sel) > 1
        is_dc = ss == 0
        needs_table = not (is_dc and ah > 0)

        def run_scan(sink):
            pred = {ci: 0 for ci in comp_sel}
            eob = _EobRun(sink)
            rst_n = 0
            gen = _prog_scan_blocks(
                comp_sel, frame_comps, dims, interleaved, mcx, mcy
            )
            blocks_in_unit = (
                sum(frame_comps[ci][1] * frame_comps[ci][2]
                    for ci in comp_sel)
                if interleaved else 1
            )
            bcount = 0
            for ci, by, bx in gen:
                if (
                    restart_interval
                    and bcount
                    and bcount % (restart_interval * blocks_in_unit) == 0
                ):
                    eob.flush()
                    sink.rst(rst_n)
                    rst_n += 1
                    pred = {c: 0 for c in comp_sel}
                bcount += 1
                blk = planes[ci][by, bx]
                if is_dc and ah == 0:
                    v = int(blk[0]) >> al  # DC point transform: arith shift
                    size, ampl = _magnitude(v - pred[ci])
                    sink.sym(size)
                    sink.bits(ampl, size)
                    pred[ci] = v
                elif is_dc:
                    sink.bits((int(blk[0]) >> al) & 1, 1)
                elif ah == 0:
                    _enc_ac_first(sink, blk, ss, se, al, eob)
                else:
                    _enc_ac_refine(sink, blk, ss, se, al, eob)
            eob.flush()

        codes = None
        if needs_table:
            fs = _FreqSink()
            run_scan(fs)
            bits_l, vals_l = _build_huffman(fs.freq)
            codes = _canonical_codes(bits_l, vals_l)
            tc = 0x00 if is_dc else 0x10  # redefine table id 0 per scan
            out += _seg(
                0xFFC4, bytes([tc]) + bytes(bits_l) + bytes(vals_l)
            )
        bw = _BitWriter()
        run_scan(_WriteSink(bw, codes))
        bw.flush()

        sos = bytes([len(comp_sel)])
        for ci in comp_sel:
            sos += bytes([frame_comps[ci][0], 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xFFDA, sos)
        out += bytes(bw.out)

    out += b"\xff\xd9"
    return out


# ------------------------------------------------- progressive decoder
def _dec_ac_first(br, ac, blk, ss, se, al, eobrun):
    """First AC scan of a band (G.2): EOBn runs, ZRL, magnitude-coded
    coefficients shifted up by Al. Returns the updated EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read_bits(r)
            break
        k += r
        if k > se:
            raise JpegFormatError("AC run past spectral band end")
        blk[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return eobrun


def _dec_ac_refine(br, ac, blk, ss, se, al, eobrun):
    """AC refinement scan (G.2): newly-significant ±1<<Al
    coefficients plus one correction bit per already-significant
    coefficient traversed. Returns the updated EOB run."""
    p1 = 1 << al

    def correct(k):
        c = int(blk[k])
        if br.read_bit() and (c & p1) == 0:
            blk[k] = c + p1 if c > 0 else c - p1

    if eobrun > 0:
        for j in range(ss, se + 1):
            if blk[j]:
                correct(j)
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        val = 0
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                r = 64  # force traversal to band end (corrections only)
        else:
            if s != 1:
                raise JpegFormatError("invalid refinement AC symbol")
            val = p1 if br.read_bit() else -p1
        while k <= se:
            if blk[k]:
                correct(k)
            else:
                if r == 0:
                    if val:
                        blk[k] = val
                    break
                r -= 1
            k += 1
        k += 1
    return eobrun


def _dec_scan_progressive(
    payload, pos, scan_plan, frame_comps, dims, coefs,
    ss, se, ah, al, restart_interval, mcx, mcy,
):
    """Consume one progressive entropy segment, mutating the
    per-component zigzag coefficient arrays; returns the byte
    position after the scan (the next marker). scan_plan is
    ``[(ci, dc_decoder_or_None, ac_decoder_or_None), ...]``."""
    br = _BitReader(payload, pos)
    comp_sel = [ci for ci, _, _ in scan_plan]
    decs = {ci: (dc, ac) for ci, dc, ac in scan_plan}
    interleaved = ss == 0 and len(comp_sel) > 1
    is_dc = ss == 0
    pred = {ci: 0 for ci in comp_sel}
    eobrun = 0
    blocks_in_unit = (
        sum(frame_comps[ci][1] * frame_comps[ci][2] for ci in comp_sel)
        if interleaved else 1
    )
    bcount = 0
    for ci, by, bx in _prog_scan_blocks(
        comp_sel, frame_comps, dims, interleaved, mcx, mcy
    ):
        if (
            restart_interval
            and bcount
            and bcount % (restart_interval * blocks_in_unit) == 0
        ):
            _resync_rst(br)
            pred = {c: 0 for c in comp_sel}
            eobrun = 0
        bcount += 1
        blk = coefs[ci][by, bx]
        dc, ac = decs[ci]
        if is_dc and ah == 0:
            size = dc.decode(br)
            pred[ci] += _extend(br.read_bits(size), size)
            blk[0] = pred[ci] << al
        elif is_dc:
            if br.read_bit():
                blk[0] = int(blk[0]) | (1 << al)
        elif ah == 0:
            eobrun = _dec_ac_first(br, ac, blk, ss, se, al, eobrun)
        else:
            eobrun = _dec_ac_refine(br, ac, blk, ss, se, al, eobrun)
    # the next marker begins at the first unconsumed byte — but skip
    # entropy padding first: a flush-to-1s pad byte can itself be a
    # stuffed 0xFF00 pair, and fill 0xFFs may precede the marker
    p = br.pos
    while p + 1 < len(payload) and payload[p] == 0xFF and (
        payload[p + 1] in (0x00, 0xFF)
    ):
        p += 2 if payload[p + 1] == 0x00 else 1
    return p


def _reconstruct_progressive(frame_comps, dims, coefs, qts, h, w):
    """Dequantize + IDCT the accumulated coefficient arrays and
    assemble the image exactly like the baseline paths (same
    per-block _idct2 arithmetic, so a progressive stream of the same
    quantized coefficients decodes bit-identically to its baseline
    sibling — test-pinned)."""
    hmax = max(hs for _, hs, _ in frame_comps)
    vmax = max(vs for _, _, vs in frame_comps)
    planes = []
    for (cid, hs, vs), (bv, bh), zz, qt in zip(
        frame_comps, dims, coefs, qts
    ):
        plane = np.empty((bv * 8, bh * 8), dtype=np.float64)
        for by in range(bv):
            for bx in range(bh):
                raster = np.empty(64, dtype=np.int64)
                raster[_ZIGZAG] = zz[by, bx]
                block = _idct2(raster.reshape(8, 8) * qt) + 128.0
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
    full = []
    for (cid, hs, vs), plane in zip(frame_comps, planes):
        if hs < hmax or vs < vmax:
            plane = plane.repeat(vmax // vs, axis=0).repeat(
                hmax // hs, axis=1
            )
        full.append(plane[:h, :w])
    return ycbcr_to_rgb(full[0], full[1], full[2])
