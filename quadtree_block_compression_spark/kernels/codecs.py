"""Image codecs (pure numpy + zlib — this container has no PIL/libjpeg).

The reference decodes JPEG/PNG via Go stdlib (``pkg/utils/ioUtils.go:16-36``)
and encodes leaf blocks as JPEG quality-75 (``quadtreeElement.go:254``).
Go-vs-libjpeg codec divergence is explicitly absorbed by the PSNR≥40dB
tolerance (BASELINE.md), and this sandbox ships no image library at all, so
the engine defines its own deterministic codecs with the same roles:

* ``raw``  — uncompressed RGB, used by kernel unit tests (codec-independent).
* ``png``  — a real, minimal PNG (8-bit RGB, zlib, filters 0-4 on decode,
  filter 0 on encode). Lossless tier: input pixels are bit-exact.
* ``jpeg`` — a JPEG-like lossy DCT codec (8×8 block DCT-II, JPEG Annex-K
  quantization tables scaled by quality, zlib entropy stage, 4:4:4). It is
  NOT wire-compatible with JFIF (impossible without libjpeg here) but has the
  same loss model: block DCT + quality-scaled quantization. Quality 75
  default, matching the reference's Go default.

Format dispatch sniffs magic bytes, mirroring the reference's
``filetype.IsImage`` dispatch (``cmd/codec/main.go:39-40``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
RAW_SIG = b"QRAW"
QJX_SIG = b"QJX1"
JPEG_SIG = b"\xff\xd8"  # real JFIF/JPEG (see kernels/jfif.py)

# ---------------------------------------------------------------- raw ------


def encode_raw(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return RAW_SIG + struct.pack(">II", h, w) + np.ascontiguousarray(img[:, :, :3], dtype=np.uint8).tobytes()


def decode_raw(data: bytes) -> np.ndarray:
    h, w = struct.unpack(">II", data[4:12])
    return np.frombuffer(data[12:12 + h * w * 3], dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------- png ------


def _chunk(typ: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))


def encode_png(img: np.ndarray) -> bytes:
    img = np.ascontiguousarray(img[:, :, :3], dtype=np.uint8)
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = np.concatenate([np.zeros((h, 1), dtype=np.uint8),  # filter 0
                           img.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(rows.tobytes(), 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters 0-4. raw: (h, 1+stride) uint8."""
    if not raw[:, 0].any():  # filter 0 throughout: every PNG the engine writes
        return raw[:, 1:].copy()
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up
            out[y] = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need a left-to-right scan
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {f}")
            out[y] = cur
    return out


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = bitdepth = colortype = 0
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, bitdepth, colortype = struct.unpack(">IIBB", payload[:10])
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
    if bitdepth != 8 or colortype not in (2, 6):
        raise ValueError(f"unsupported PNG: depth={bitdepth} color={colortype}")
    ch = 3 if colortype == 2 else 4
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + stride)
    img = _unfilter(raw, h, stride, ch).reshape(h, w, ch)
    return np.ascontiguousarray(img[:, :, :3])


# ------------------------------------------------------------- lossy -------

# JPEG Annex K base quantization tables (public standard values)
_QY = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.float64)
_QC = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.float64)


def _quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    q = min(max(int(quality), 1), 100)
    scale = 5000 / q if q < 50 else 200 - 2 * q
    qy = np.clip(np.floor((_QY * scale + 50) / 100), 1, 255)
    qc = np.clip(np.floor((_QC * scale + 50) / 100), 1, 255)
    return qy, qc


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * 0.5
    d[0, :] = 1 / np.sqrt(8)
    return d


_D = _dct_matrix()


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def encode_lossy(img: np.ndarray, quality: int = 75) -> bytes:
    """JPEG-like DCT codec (see module docstring)."""
    img = np.ascontiguousarray(img[:, :, :3], dtype=np.uint8)
    h, w = img.shape[:2]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(img, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded.astype(np.float64)) - np.array([128.0, 128.0, 128.0])
    qy, qc = _quant_tables(quality)
    blocks = ycc.reshape(ph // 8, 8, pw // 8, 8, 3).transpose(0, 2, 4, 1, 3)  # (by,bx,c,8,8)
    coefs = np.einsum("ij,bxcjk,lk->bxcil", _D, blocks, _D, optimize=True)
    q = np.empty_like(coefs)
    q[:, :, 0] = coefs[:, :, 0] / qy
    q[:, :, 1:] = coefs[:, :, 1:] / qc
    qi = np.round(q).astype(np.int16)
    payload = zlib.compress(qi.tobytes(), 6)
    return QJX_SIG + struct.pack(">HHB", h, w, min(max(int(quality), 1), 100)) + payload


def decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] != QJX_SIG:
        raise ValueError("not a QJX stream")
    h, w, quality = struct.unpack(">HHB", data[4:9])
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    qi = np.frombuffer(zlib.decompress(data[9:]), dtype=np.int16).reshape(
        ph // 8, pw // 8, 3, 8, 8).astype(np.float64)
    qy, qc = _quant_tables(quality)
    qi[:, :, 0] *= qy
    qi[:, :, 1:] *= qc
    blocks = np.einsum("ji,bxcjk,kl->bxcil", _D, qi, _D, optimize=True)
    ycc = blocks.transpose(0, 3, 1, 4, 2).reshape(ph, pw, 3) + np.array([128.0, 128.0, 128.0])
    rgb = np.clip(np.round(_ycbcr_to_rgb(ycc)), 0, 255).astype(np.uint8)
    return np.ascontiguousarray(rgb[:h, :w])


# ------------------------------------------------------------ dispatch -----

_ENCODERS = {"raw": encode_raw, "png": encode_png}


def encode_image(img: np.ndarray, fmt: str, quality: int = 75) -> bytes:
    if fmt == "jpeg":
        return encode_lossy(img, quality)
    if fmt == "jfif":  # real wire-format JPEG (interop with the reference)
        from .jfif import encode_jfif
        return encode_jfif(img, quality)
    return _ENCODERS[fmt](img)


def decode_image(data: bytes) -> np.ndarray:
    """Magic-byte dispatch (cf. reference ``cmd/codec/main.go:39-40``)."""
    if data[:8] == PNG_SIG:
        return decode_png(data)
    if data[:4] == RAW_SIG:
        return decode_raw(data)
    if data[:4] == QJX_SIG:
        return decode_lossy(data)
    if data[:2] == JPEG_SIG:  # real JPEG, e.g. reference-produced archives
        from .jfif import decode_jfif  # lazy: jfif imports this module
        return decode_jfif(data)
    raise ValueError("unknown image format")
