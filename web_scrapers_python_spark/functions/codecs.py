"""Pure-numpy uncompressed media codecs: 24-bit BMP images, PCM16 WAV
audio, and a BMP-sequence video container (concatenated BMP frames,
each self-describing via its header's file-size field).

These make the multimodal operators real capabilities in a sandbox
without PIL/ffmpeg: every byte of a payload is produced and consumed
by these encoders/decoders, so feature extraction, resize, and frame
sampling run on genuinely decoded pixels/samples. Compressed formats
(JPEG/PNG/MP3/H.264) remain explicitly out of scope — the operators
raise ``NotImplementedError`` for their mimes, marking where a real
codec library plugs in.

Also defines the DETERMINISTIC SYNTHESIS PARAMETERS used by
``operators.multimodal.synthesize_real_media`` and its DuckDB oracle
twin: media content is a closed-form function of ``media_id``, so the
expected decoded features are computable in ANSI SQL while the Spark
path must round-trip real encoded bytes to match. Reference parity:
the reference treats media as opaque stored blobs (it scrapes text);
this layer is the training-data-pipeline extension mandated by the
build brief, not a transcription.
"""

from __future__ import annotations

import struct

import numpy as np

BMP_MIME = "image/bmp"
WAV_MIME = "audio/x-wav"
VIDEO_MIME = "video/x-bmp-seq"
FAKE_MIME = "application/x-fake"

WAV_RATE = 8000


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, 24-bit, BI_RGB, bottom-up rows padded to 4 bytes)
# ---------------------------------------------------------------------------

def bmp_row_stride(width: int) -> int:
    return ((width * 3 + 3) // 4) * 4


def bmp_size(width: int, height: int) -> int:
    return 54 + height * bmp_row_stride(width)


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB, top-down -> BMP file bytes."""
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("encode_bmp expects (H, W, 3) uint8")
    h, w, _ = rgb.shape
    stride = bmp_row_stride(w)
    total = bmp_size(w, h)
    header = struct.pack("<2sIHHI", b"BM", total, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       stride * h, 2835, 2835, 0, 0)
    # BGR channel order, bottom-up row order, rows padded to the stride
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP file bytes -> (H, W, 3) uint8 RGB, top-down."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (_, _total, _, _, offset) = struct.unpack_from("<2sIHHI", payload, 0)
    (hsize, w, h, planes, bpp, comp) = struct.unpack_from(
        "<IiiHHI", payload, 14)
    if hsize < 40 or planes != 1 or bpp != 24 or comp != 0 or h <= 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit bottom-up BMP supported "
            f"(bpp={bpp}, compression={comp})")
    stride = bmp_row_stride(w)
    px = np.frombuffer(payload, dtype=np.uint8, count=h * stride,
                       offset=offset).reshape(h, stride)
    rgb = px[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
    return np.ascontiguousarray(rgb)


def resize_nearest(rgb: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize, floor(index * src / dst) sampling — the
    deterministic mapping the resize golden test and oracle assume."""
    h, w, _ = rgb.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return np.ascontiguousarray(rgb[ys][:, xs])


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM 16-bit mono)
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, rate: int = WAV_RATE) -> bytes:
    """1-D int16 samples -> WAV file bytes (PCM16 mono)."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("encode_wav expects 1-D int16")
    data = samples.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data))
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 samples). Walks RIFF chunks, so
    extra chunks (LIST/fact) between fmt and data are tolerated."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8: pos + 8 + clen]
        if cid == b"fmt ":
            fmt, ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0)
            if fmt != 1 or ch != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 mono WAV supported (fmt={fmt}, ch={ch}, "
                    f"bits={bits})")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + clen + (clen & 1)      # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, samples


# ---------------------------------------------------------------------------
# BMP-sequence video container: frames = concatenated BMP files
# ---------------------------------------------------------------------------

def encode_bmp_seq(frames: list[np.ndarray]) -> bytes:
    return b"".join(encode_bmp(f) for f in frames)


def split_bmp_seq(payload: bytes) -> list[bytes]:
    """Split a concatenated-BMP container into per-frame byte slices by
    reading each header's file-size field — real (cheap) parsing, no
    pixel decode."""
    out, pos = [], 0
    while pos < len(payload):
        if payload[pos:pos + 2] != b"BM" or pos + 6 > len(payload):
            raise ValueError(f"bad frame magic at offset {pos}")
        (size,) = struct.unpack_from("<I", payload, pos + 2)
        if size < 54 or pos + size > len(payload):
            raise ValueError(f"bad frame size {size} at offset {pos}")
        out.append(payload[pos:pos + size])
        pos += size
    return out


def decode_bmp_seq(payload: bytes) -> list[np.ndarray]:
    return [decode_bmp(b) for b in split_bmp_seq(payload)]


# ---------------------------------------------------------------------------
# Deterministic synthesis: media content as a closed form of media_id.
# The DuckDB oracle twin (operators.multimodal.media_features_sql)
# mirrors these formulas exactly — keep them in sync.
# ---------------------------------------------------------------------------

def synth_kind(i: int) -> str:
    return ("image", "audio", "video")[i % 3]


def synth_image_params(i: int, f: int = 0) -> dict:
    """Two-tone image: rows [0, H//2) are color a, rows [H//2, H) are
    color b (top-down). Frame offset f shifts colors for video frames."""
    return {
        "w": 16 + i % 17,
        "h": 16 + i % 13,
        "a": ((3 * i + 19 * f + 7) % 256, (5 * i + 19 * f + 11) % 256,
              (7 * i + 19 * f + 13) % 256),
        "b": ((11 * i + 19 * f + 17) % 256, (13 * i + 19 * f + 19) % 256,
              (17 * i + 19 * f + 23) % 256),
    }


def synth_audio_params(i: int) -> dict:
    """Square pulse: samples [0, n//2) = +amp, [n//2, n) = -amp."""
    return {"rate": WAV_RATE, "n": 64 + i % 101,
            "amp": 256 + (i % 997) * 16}


def synth_video_frames(i: int) -> int:
    return 1 + i % 4


def synth_image(i: int, f: int = 0) -> np.ndarray:
    p = synth_image_params(i, f)
    rgb = np.empty((p["h"], p["w"], 3), dtype=np.uint8)
    rgb[: p["h"] // 2] = p["a"]
    rgb[p["h"] // 2:] = p["b"]
    return rgb


def synth_audio(i: int) -> np.ndarray:
    p = synth_audio_params(i)
    s = np.full(p["n"], -p["amp"], dtype=np.int16)
    s[: p["n"] // 2] = p["amp"]
    return s


def synth_payload(i: int) -> tuple[str, bytes, dict]:
    """(mime, payload, meta-ish dict) for media_id i."""
    k = synth_kind(i)
    if k == "image":
        p = synth_image_params(i)
        return BMP_MIME, encode_bmp(synth_image(i)), {
            "width": p["w"], "height": p["h"], "duration_ms": 0}
    if k == "audio":
        p = synth_audio_params(i)
        return WAV_MIME, encode_wav(synth_audio(i)), {
            "width": 0, "height": 0,
            "duration_ms": p["n"] * 1000 // p["rate"]}
    nf = synth_video_frames(i)
    p = synth_image_params(i)
    payload = encode_bmp_seq([synth_image(i, f) for f in range(nf)])
    return VIDEO_MIME, payload, {
        "width": p["w"], "height": p["h"], "duration_ms": nf * 1000}
