"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Media are opaque ``binary`` columns plus a typed metadata struct; all
per-byte work runs as Arrow-batched ``mapInPandas`` so payloads never
round-trip through Python row objects. Decoding is REAL for the
uncompressed formats implemented in ``functions.codecs`` (24-bit BMP,
PCM16 WAV, BMP-sequence video) — feature extraction, resize, and frame
sampling operate on genuinely decoded pixels/samples. Compressed
formats (JPEG/MP3/H.264 …) raise ``NotImplementedError`` at the decode
dispatch, marking exactly where PIL/ffmpeg would plug in; the
deterministic ``application/x-fake`` stub mime remains for plumbing
tests.

Scale notes: media rows are wide (MBs); the helpers repartition by a
size budget, not row count, and the feature stage prunes the binary
column out of its output so downstream stages never shuffle payloads.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..functions import codecs as C

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),        # 'image' | 'audio' | 'video'
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ])),
])

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sha", StringType()),
    StructField("feature", ArrayType(FloatType())),
])


def synthesize_media(df: DataFrame, id_col: str, text_col: str,
                     kind: str = "image") -> DataFrame:
    """Deterministic fake media table from any string column (plumbing
    test shim — payload = utf8 bytes; metadata derived from length)."""
    n = F.length(text_col)
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit(C.FAKE_MIME).alias("mime"),
            (n % 640 + 16).cast("int").alias("width"),
            (n % 480 + 16).cast("int").alias("height"),
            (n * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthesize_real_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL media table: for each id, encode a deterministic BMP image,
    PCM16 WAV clip, or BMP-sequence video clip (kind = id % 3) with the
    closed-form content of ``codecs.synth_payload``. Every payload is a
    valid file for its mime — the decoders in this module round-trip
    it. Arrow-batched; no driver-side materialization."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for i in ids:
                i = int(i)
                mime, payload, m = C.synth_payload(i)
                rows["media_id"].append(i)
                rows["kind"].append(C.synth_kind(i))
                rows["payload"].append(payload)
                rows["meta"].append({"mime": mime, **m})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode for the x-fake mime."""
    d = hashlib.sha256(payload).digest()
    return np.frombuffer(d[:FEATURE_DIM], dtype=np.uint8).astype(np.float32) / 255.0


def _image_features(rgb: np.ndarray) -> list[float]:
    h, w, _ = rgb.shape
    s = rgb.astype(np.int64)
    top = s[: h // 2]
    bot = s[h // 2:]
    return [float(w), float(h),
            float(s[:, :, 0].sum()), float(s[:, :, 1].sum()),
            float(s[:, :, 2].sum()),
            float(top.sum()), float(bot.sum()),
            float(int(s.max()) - int(s.min()))]


def _audio_features(rate: int, samples: np.ndarray) -> list[float]:
    s = samples.astype(np.int64)
    zc = int(np.count_nonzero(s[1:] * s[:-1] < 0)) if len(s) > 1 else 0
    return [float(rate), float(len(s)), float(s.sum()),
            float(np.abs(s).sum()), float(s.max()), float(s.min()),
            float(zc), float(len(s) * 1000 // rate)]


def _video_features(frames: list[np.ndarray]) -> list[float]:
    h, w, _ = frames[0].shape
    stack = np.stack(frames).astype(np.int64)
    f0 = stack[0]
    return [float(len(frames)), float(w), float(h),
            float(stack[:, :, :, 0].sum()), float(stack[:, :, :, 1].sum()),
            float(stack[:, :, :, 2].sum()),
            float(f0.sum()),
            float(int(stack.max()) - int(stack.min()))]


def _decode_features(mime: str, payload: bytes,
                     decode_stub: bool) -> list[float]:
    if mime == C.BMP_MIME:
        return _image_features(C.decode_bmp(payload))
    if mime == C.WAV_MIME:
        return _audio_features(*C.decode_wav(payload))
    if mime == C.VIDEO_MIME:
        return _video_features(C.decode_bmp_seq(payload))
    if decode_stub:
        return _fake_decode(payload).tolist()
    raise NotImplementedError(
        f"no codec for mime {mime!r} in this environment; plug "
        f"PIL/torchaudio/ffmpeg in at functions/codecs.py")


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """media -> (media_id, kind, n_bytes, sha, feature ARRAY<FLOAT>).

    Arrow-batched mapInPandas; the binary payload is consumed inside the
    batch and dropped from the output, so only ~80 bytes/row continue
    downstream. BMP/WAV/BMP-seq payloads are REALLY decoded (header
    parse, stride/padding, bottom-up flip, RIFF chunk walk) and the
    feature vector summarizes the decoded pixels/samples; unknown mimes
    fall back to the deterministic stub only when ``decode_stub`` is
    True, else raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            mimes = pdf["meta"].map(lambda m: m["mime"])
            feats = [
                _decode_features(m, bytes(p), decode_stub)
                for m, p in zip(mimes, payloads)
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": payloads.map(len).astype("int64"),
                "sha": payloads.map(
                    lambda p: hashlib.sha256(bytes(p)).hexdigest()),
                "feature": feats,
            })

    return media.mapInPandas(run, FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int,
                  decode_stub: bool = True) -> DataFrame:
    """Image resize stage. ``image/bmp`` payloads are really resized:
    decode -> nearest-neighbor (floor mapping) -> re-encode, with the
    metadata struct rewritten to the new geometry. The x-fake mime
    passes payload through (plumbing shim); other mimes raise unless
    ``decode_stub``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                mime = m["mime"]
                if mime == C.BMP_MIME:
                    out = C.encode_bmp(
                        C.resize_nearest(C.decode_bmp(bytes(p)),
                                         width, height))
                elif mime == C.FAKE_MIME or decode_stub:
                    out, mime = bytes(p), C.FAKE_MIME
                else:
                    raise NotImplementedError(
                        f"no resize codec for mime {mime!r}")
                payloads.append(out)
                metas.append({"mime": mime, "width": width, "height": height,
                              "duration_ms": m["duration_ms"]})
            out_pdf = pdf.copy()
            out_pdf["payload"] = payloads
            out_pdf["meta"] = metas
            yield out_pdf

    return media.mapInPandas(run, MEDIA_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000,
                 decode_stub: bool = True) -> DataFrame:
    """Video frame sampling — the UDTF-shaped (1 row -> N rows) media
    op. BMP-sequence payloads are split into REAL single-image frames
    by walking each embedded BMP header's file-size field (no pixel
    decode — O(frames), not O(bytes)); each output frame is itself a
    valid BMP. The x-fake mime keeps the duration-based byte slicing
    shim."""
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("frame", BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_ts_ms": [],
                    "frame": []}
            # column zip (like extract_features) — iterrows() builds a
            # Series per row and is the slowest batch traversal
            for mid, meta, p in zip(pdf["media_id"], pdf["meta"],
                                    pdf["payload"]):
                mime = meta["mime"]
                payload = bytes(p)
                if mime == C.VIDEO_MIME:
                    frames = C.split_bmp_seq(payload)
                elif mime == C.FAKE_MIME or decode_stub:
                    dur = int(meta["duration_ms"] or 0)
                    n_frames = max(1, dur // every_ms)
                    step = max(1, len(payload) // n_frames)
                    frames = [payload[i * step:(i + 1) * step]
                              for i in range(n_frames)]
                else:
                    raise NotImplementedError(
                        f"no frame codec for mime {mime!r}")
                for i, fr in enumerate(frames):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame_ts_ms"].append(i * every_ms)
                    rows["frame"].append(fr)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# DuckDB oracle twin: expected features of synthesize_real_media +
# extract_features, in closed form over media_id — the Spark side must
# encode AND decode real bytes to reproduce these numbers.
# ---------------------------------------------------------------------------

_GEO = ("16 + i % 17 AS w, 16 + i % 13 AS h, "
        "(16 + i % 13) // 2 AS ht, "
        "(16 + i % 13) - (16 + i % 13) // 2 AS hb, "
        "64 + i % 101 AS n, 256 + (i % 997) * 16 AS amp, "
        "1 + i % 4 AS nf")


def _color(base_mult: int, add: int, f: str = "0") -> str:
    return f"(({base_mult} * i + 19 * ({f}) + {add}) % 256)"


def _af(ch: int, f: str = "0") -> str:
    return _color((3, 5, 7)[ch], (7, 11, 13)[ch], f)


def _bf(ch: int, f: str = "0") -> str:
    return _color((11, 13, 17)[ch], (17, 19, 23)[ch], f)


def _img_feat_exprs(w: str, h: str, ht: str, hb: str,
                    f: str = "0") -> list[str]:
    """Expected _image_features of a two-tone frame with colors at
    frame offset ``f`` and the given geometry exprs."""
    a = [_af(c, f) for c in range(3)]
    b = [_bf(c, f) for c in range(3)]
    six = a + b
    return [
        w, h,
        f"{w} * ({ht} * {a[0]} + {hb} * {b[0]})",
        f"{w} * ({ht} * {a[1]} + {hb} * {b[1]})",
        f"{w} * ({ht} * {a[2]} + {hb} * {b[2]})",
        f"{ht} * {w} * ({a[0]} + {a[1]} + {a[2]})",
        f"{hb} * {w} * ({b[0]} + {b[1]} + {b[2]})",
        f"greatest({', '.join(six)}) - least({', '.join(six)})",
    ]


def media_features_sql(id_source: str, id_col: str = "doc_id") -> str:
    """SQL computing (media_id, kind, n_bytes, f0..f7 BIGINT) for the
    deterministic media of ``synthesize_real_media``. Mirrors
    ``functions.codecs.synth_*`` — keep in sync."""
    geo = _GEO
    a = [_af(c) for c in range(3)]
    b = [_bf(c) for c in range(3)]
    af, bf = _af, _bf

    # video: sum over frames f < nf of per-frame channel sums
    def vsum(ch: int) -> str:
        terms = [f"CASE WHEN {f} < nf THEN ht * {af(ch, str(f))} "
                 f"+ hb * {bf(ch, str(f))} ELSE 0 END" for f in range(4)]
        return f"w * ({' + '.join(terms)})"

    vmax_args = ", ".join(
        f"CASE WHEN {f} < nf THEN {e} ELSE -1 END"
        for f in range(4)
        for e in [af(0, str(f)), af(1, str(f)), af(2, str(f)),
                  bf(0, str(f)), bf(1, str(f)), bf(2, str(f))])
    vmin_args = vmax_args.replace("ELSE -1 END", "ELSE 256 END")

    stride = "((w * 3 + 3) // 4) * 4"
    img_nbytes = f"54 + h * ({stride})"
    six = a + b
    frame0_sum = (
        f"ht * w * ({af(0, '0')} + {af(1, '0')} + {af(2, '0')}) + "
        f"hb * w * ({bf(0, '0')} + {bf(1, '0')} + {bf(2, '0')})")
    # (image_expr, audio_expr, video_expr) per feature index — MUST
    # match _image_features / _audio_features / _video_features order
    feats = {
        0: ("w", "8000", "nf"),
        1: ("h", "n", "w"),
        2: (f"w * (ht * {a[0]} + hb * {b[0]})",
            "(2 * (n // 2) - n) * amp", "h"),
        3: (f"w * (ht * {a[1]} + hb * {b[1]})", "n * amp", vsum(0)),
        4: (f"w * (ht * {a[2]} + hb * {b[2]})", "amp", vsum(1)),
        5: (f"ht * w * ({a[0]} + {a[1]} + {a[2]})", "-amp", vsum(2)),
        6: (f"hb * w * ({b[0]} + {b[1]} + {b[2]})", "1", frame0_sum),
        7: (f"greatest({', '.join(six)}) - least({', '.join(six)})",
            "n * 1000 // 8000",
            f"greatest({vmax_args}) - least({vmin_args})"),
    }
    fcols = ", ".join(
        f"CASE i % 3 WHEN 0 THEN {img} WHEN 1 THEN {aud} "
        f"ELSE {vid} END::BIGINT AS f{k}"
        for k, (img, aud, vid) in feats.items())
    nbytes = (f"CASE i % 3 WHEN 0 THEN {img_nbytes} "
              f"WHEN 1 THEN 44 + 2 * n "
              f"ELSE nf * ({img_nbytes}) END::BIGINT")
    return f"""
SELECT i AS media_id,
       CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       {nbytes} AS n_bytes,
       {fcols}
FROM (SELECT CAST({id_col} AS BIGINT) AS i, {geo}
      FROM {id_source})"""


def media_resize_features_sql(id_source: str, id_col: str = "doc_id") -> str:
    """Expected features after ``resize_images(media, 8, 8)`` on the
    image subset (media_id % 3 == 0) of ``synthesize_real_media``.

    Nearest-neighbor with floor(y*H/8) sampling maps EXACTLY 4 target
    rows onto the top half for every source H in 16..28: y*H//8 < H//2
    iff y*H < 8*(H//2) iff y < 4 - (4/H if H odd else 0), i.e. y <= 3.
    So the resized image is 4 rows of color a over 4 rows of color b at
    8x8 — the Spark side must really decode, resample, re-encode, and
    re-decode to reproduce these sums."""
    fexprs = _img_feat_exprs("8", "8", "4", "4")
    fcols = ", ".join(f"({e})::BIGINT AS f{k}" for k, e in enumerate(fexprs))
    return f"""
SELECT i AS media_id, {54 + 8 * 24}::BIGINT AS n_bytes, {fcols}
FROM (SELECT CAST({id_col} AS BIGINT) AS i FROM {id_source})
WHERE i % 3 = 0"""


def media_frame_features_sql(id_source: str, id_col: str = "doc_id") -> str:
    """Expected per-frame features of ``frame_sample`` over the video
    subset (media_id % 3 == 2): one row per embedded BMP frame, each
    decoded independently after the container split."""
    fexprs = _img_feat_exprs("w", "h", "ht", "hb", f="f")
    fcols = ", ".join(f"({e})::BIGINT AS f{k}" for k, e in enumerate(fexprs))
    nbytes = "(54 + h * (((w * 3 + 3) // 4) * 4))::BIGINT"
    return f"""
SELECT i AS media_id, CAST(f AS INT) AS frame_idx,
       {nbytes} AS n_bytes, {fcols}
FROM (SELECT CAST({id_col} AS BIGINT) AS i, {_GEO} FROM {id_source})
CROSS JOIN (SELECT unnest(range(4)) AS f)
WHERE i % 3 = 2 AND f < nf"""
