"""Minimal MJPEG-in-AVI (RIFF) muxer + demuxer, stdlib + this repo's JFIF.

The container has no ffmpeg, but Motion-JPEG inside the public RIFF/AVI
layout needs only struct packing: every video frame is a standalone baseline
JPEG in a ``00dc`` chunk, which :mod:`.jfif` already encodes/decodes. This
gives ``video_frame_sample`` a REAL decode path (round-2 verdict item #6).

Writer emits the canonical layout (avih + one ``vids`` stream with an
``MJPG`` BITMAPINFOHEADER, a ``movi`` LIST, and an ``idx1`` index); parser is
a tolerant RIFF walker that accepts any AVI whose movi chunks carry JPEG
(``..dc``/``..db`` fourccs, ``rec `` sub-LISTs, odd-size padding).
"""

from __future__ import annotations

import struct


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks are word-aligned
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_mjpeg_avi(frames, fps: int = 10, quality: int = 85,
                     subsampling: str = "420") -> bytes:
    """Mux (h, w, 3) uint8 RGB ``frames`` as an MJPEG AVI (one video stream).
    Each frame is independently JFIF-encoded — the Motion-JPEG contract."""
    from .jfif import encode_jfif

    frames = list(frames)
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    payloads = [encode_jfif(f, quality, subsampling=subsampling) for f in frames]
    max_size = max(len(p) for p in payloads)

    # MainAVIHeader (avih)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,            # dwMicroSecPerFrame
        max_size * fps,              # dwMaxBytesPerSec
        0,                           # dwPaddingGranularity
        0x10,                        # dwFlags: AVIF_HASINDEX
        len(frames), 0,              # dwTotalFrames, dwInitialFrames
        1,                           # dwStreams
        max_size,                    # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0)            # dwWidth, dwHeight, reserved[4]
    # AVIStreamHeader (strh) for a 'vids'/'MJPG' stream
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames),
                          max_size, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    # BITMAPINFOHEADER (strf)
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_body = b"".join(_chunk(b"00dc", p) for p in payloads)
    movi = _list(b"movi", movi_body)

    # idx1: one entry per frame, offsets relative to the start of 'movi' data
    idx_entries, off = [], 4  # 4 = the 'movi' list-type fourcc itself
    for p in payloads:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def is_avi(data: bytes) -> bool:
    return data[:4] == b"RIFF" and data[8:12] == b"AVI "


def mjpeg_frames(data: bytes) -> list[bytes]:
    """JPEG payloads of every video chunk in stream order. Tolerant RIFF
    walk: any ``..dc``/``..db`` chunk inside ``movi`` (including ``rec ``
    sub-LISTs) whose payload starts with an SOI marker counts."""
    if not is_avi(data):
        raise ValueError("not a RIFF/AVI stream")

    out: list[bytes] = []

    def walk(buf: bytes, in_movi: bool) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos:pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
            payload = buf[pos + 8:pos + 8 + size]
            if fourcc == b"LIST":
                ltype = payload[:4]
                walk(payload[4:], in_movi or ltype in (b"movi", b"rec "))
            elif in_movi and fourcc[2:4] in (b"dc", b"db") \
                    and payload[:2] == b"\xff\xd8":
                out.append(payload)
            pos += 8 + size + (size % 2)

    walk(data[12:], False)
    if not out:
        raise ValueError("AVI contains no MJPEG video chunks")
    return out
