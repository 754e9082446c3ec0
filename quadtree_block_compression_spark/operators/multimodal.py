"""Multimodal column operators: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with explicit metadata
columns (never sniffed server-side — cf. the reference's magic-byte dispatch,
``cmd/codec/main.go:39-40``, which we keep only inside the decode kernel).
All heavy work is ``mapInPandas`` over Arrow batches with small
``maxRecordsPerBatch`` (multi-MB payloads): schema, partitioning, UDF
signature and batch shape are the real, tested plumbing.

Image decode uses this repo's own numpy codecs (real). Audio decode is
REAL for RIFF/WAVE PCM (stdlib ``wave`` + numpy — 8/16/24/32-bit widths, any
channel count). Video decode is REAL for Motion-JPEG in RIFF/AVI
(``kernels/avi.py`` demux + the JFIF decoder). Every other container —
inter-frame video codecs, compressed audio (mp3/flac/ogg) — raises
``NotImplementedError``: there is no soundfile/ffmpeg to decode them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

IMAGE_FEATURES_SCHEMA = ("image_id string, w int, h int, mean_r double, "
                         "mean_g double, mean_b double, edge_energy double, "
                         "phash long")


def image_features(images: DataFrame) -> DataFrame:
    """Decode → per-image features (means, gradient energy, phash).

    One Arrow pass; only (image_id, bytes) cross the boundary.
    """
    src = images.select("image_id", "bytes")

    def feats(batches):
        import numpy as np
        import pandas as pd
        from ..kernels.codecs import decode_image
        from ..kernels.phash import phash64
        for pdf in batches:
            out = []
            for image_id, data in zip(pdf["image_id"], pdf["bytes"]):
                img = decode_image(bytes(data)).astype(np.float64)
                gy = np.abs(np.diff(img, axis=0)).mean() if img.shape[0] > 1 else 0.0
                gx = np.abs(np.diff(img, axis=1)).mean() if img.shape[1] > 1 else 0.0
                out.append((image_id, img.shape[1], img.shape[0],
                            float(img[..., 0].mean()), float(img[..., 1].mean()),
                            float(img[..., 2].mean()), float(gx + gy),
                            int(phash64(img.astype(np.uint8)))))
            yield pd.DataFrame(out, columns=["image_id", "w", "h", "mean_r",
                                             "mean_g", "mean_b", "edge_energy", "phash"])

    return src.mapInPandas(feats, IMAGE_FEATURES_SCHEMA)


def decode_wav_pcm(data: bytes):
    """Decode RIFF/WAVE PCM bytes with stdlib ``wave`` → (samples, sr, nch).

    Samples are float64 in [-1, 1), interleaved frames flattened. Supports
    the PCM widths ``wave`` accepts (8-bit unsigned, 16/32-bit signed LE)
    plus 24-bit via manual sign extension."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as wf:
        sr = wf.getframerate()
        nch = wf.getnchannels()
        sw = wf.getsampwidth()
        raw = wf.readframes(wf.getnframes())
    if sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v & 0x800000) << 1  # sign-extend 24-bit
        x = v.astype(np.float64) / 8388608.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width {sw}")
    return x, sr, nch


AUDIO_FEATURES_SCHEMA = ("clip_id long, codec string, sample_rate int, "
                         "n_channels int, n_frames long, duration_s double, "
                         "mean_amp double, peak_amp double, rms double")


def audio_features(audio: DataFrame) -> DataFrame:
    """Per-clip audio features over a binary column.

    RIFF/WAVE PCM decodes for real (stdlib ``wave``); compressed formats
    raise ``NotImplementedError`` (no codec libs in this container).
    One Arrow pass; only (clip_id, bytes) cross the boundary."""
    src = audio.select("clip_id", "bytes")

    def dec(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = []
            for cid, data in zip(pdf["clip_id"], pdf["bytes"]):
                data = bytes(data)
                if not (data[:4] == b"RIFF" and data[8:12] == b"WAVE"):
                    raise NotImplementedError(
                        "compressed audio codecs unavailable in this "
                        "environment; payload must be WAV PCM")
                x, sr, nch = decode_wav_pcm(data)
                nf = len(x) // max(nch, 1)
                out.append((cid, "wav_pcm", sr, nch, nf,
                            nf / sr if sr else 0.0,
                            float(x.mean()) if len(x) else 0.0,
                            float(np.abs(x).max()) if len(x) else 0.0,
                            float(np.sqrt((x * x).mean())) if len(x) else 0.0))
            yield pd.DataFrame(out, columns=["clip_id", "codec", "sample_rate",
                                             "n_channels", "n_frames",
                                             "duration_s", "mean_amp",
                                             "peak_amp", "rms"])

    return src.mapInPandas(dec, AUDIO_FEATURES_SCHEMA)


VIDEO_SAMPLE_SCHEMA = ("video_id long, frame_idx int, w int, h int, "
                       "mean_r double, mean_g double, mean_b double, "
                       "frame_png binary")


def video_frame_sample(video: DataFrame, every_n: int = 10) -> DataFrame:
    """Sample every ``every_n``-th frame (1 row in → N frame rows out).

    REAL decode path: Motion-JPEG in a RIFF/AVI container (``kernels/avi.py``
    demux + this repo's JFIF decoder) — the standard uncompressed-pipeline
    interchange format, feasible without ffmpeg. Other containers raise (no
    inter-frame codecs in this environment). One Arrow pass; each frame row
    carries dims, channel means and a PNG re-encode."""
    src = video.select("video_id", "bytes")

    def sample(batches):
        import pandas as pd
        from ..kernels.avi import is_avi, mjpeg_frames
        from ..kernels.codecs import encode_png
        from ..kernels.jfif import decode_jfif
        for pdf in batches:
            out = []
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                data = bytes(data)
                if not is_avi(data):
                    raise NotImplementedError(
                        "inter-frame video codecs unavailable in this "
                        "environment; payload must be MJPEG/AVI")
                payloads = mjpeg_frames(data)
                for f in range(0, len(payloads), every_n):
                    frame = decode_jfif(payloads[f])
                    out.append((vid, f, frame.shape[1], frame.shape[0],
                                float(frame[..., 0].mean()),
                                float(frame[..., 1].mean()),
                                float(frame[..., 2].mean()),
                                encode_png(frame)))
            yield pd.DataFrame(out, columns=["video_id", "frame_idx", "w", "h",
                                             "mean_r", "mean_g", "mean_b",
                                             "frame_png"])

    return src.mapInPandas(sample, VIDEO_SAMPLE_SCHEMA)


def make_mjpeg_avi_clip(video_id: int, h: int = 32, w: int = 48,
                        nf: int = 12, fps: int = 10) -> bytes:
    """Deterministic MJPEG/AVI bytes for tests/queries: a drifting gradient
    with a moving bright block, JFIF 4:2:0 per frame."""
    import numpy as np
    from ..kernels.avi import encode_mjpeg_avi
    frames = []
    base = (np.linspace(0, 200, w)[None, :, None]
            * np.ones((h, 1, 3))).astype(np.float64)
    for f in range(nf):
        img = base + 4.0 * f
        x = (video_id * 3 + f * 2) % max(w - 8, 1)
        y = (video_id * 5 + f) % max(h - 8, 1)
        img[y:y + 8, x:x + 8] = 240.0
        frames.append(np.clip(img, 0, 255).astype(np.uint8))
    return encode_mjpeg_avi(frames, fps=fps, quality=85, subsampling="420")


def make_wav_pcm16(clip_id: int, sr: int = 16000, n_frames: int = 1600,
                   nch: int = 1) -> bytes:
    """Deterministic 16-bit PCM WAV bytes (stdlib writer) for tests/queries."""
    import io
    import wave

    import numpy as np
    rng = np.random.default_rng(clip_id)
    x = np.round((rng.random(n_frames * nch) - 0.5) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(x.tobytes())
    return buf.getvalue()

