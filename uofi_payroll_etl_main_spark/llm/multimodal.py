"""Multimodal (image/audio/video) column plumbing.

Design: media travels as an opaque ``binary`` payload column plus typed
metadata (kind, width/height/duration, codec) -- the lakehouse-standard
layout for multimodal training data.  Decode / feature-extraction /
resize / frame-sampling run as Arrow-batched Pandas UDFs via
``mapInPandas``: batches of payload bytes cross to Python once, columnar,
never row-at-a-time.

Decode kernels: the self-contained codecs are REAL -- PPM (P6),
uncompressed 24-bit BMP, GIF (87a/89a LZW incl. interlace), PNG (8-bit gray/RGB/RGBA, all five scanline
filters, via zlib), and JPEG (baseline SOF0/SOF1 with any sampling
factors and restart markers, plus progressive SOF2 with spectral
selection + successive approximation -- pure numpy, see llm/jpeg.py)
for images; WAV audio via the stdlib ``wave`` module -- so features
and resizes compute from actual pixels/samples.  Codecs that genuinely
need third-party libs (arithmetic-coded JPEG/MP3/video) raise
NotImplementedError at the kernel; the surrounding Spark plumbing is
identical either way, so swapping in PIL/soundfile/av at deployment
touches only `decode_media`.

The synthetic media table (`synth_media`) emits real PPM/WAV payloads by
default, making the whole path -- synth -> decode -> feature/resize --
verifiable end-to-end against independently computed pixel/sample stats.
"""

from __future__ import annotations

import io as _io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

__all__ = [
    "MEDIA_SCHEMA",
    "FEATURE_SCHEMA",
    "RESIZE_SCHEMA",
    "encode_ppm",
    "encode_bmp",
    "encode_png",
    "encode_jpeg",
    "encode_wav",
    "synth_media",
    "decode_media",
    "extract_features",
    "sample_frames",
    "resize_media",
    "resize_pixel_stats",
    "dhash64",
    "image_dhash",
    "image_dup_candidates",
    "audio_fp64",
    "audio_fingerprint",
    "audio_dup_candidates",
    "vad_segments",
    "audio_vad",
    "corrupt_media",
    "decode_quarantine",
    "QUARANTINE_SCHEMA",
]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_DIM = 8
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


# --------------------------------------------------------------------------
# Stdlib codecs.  Encoders produce deterministic synthetic content (used
# by synth_media and the tests); decoders parse any conforming file.
# --------------------------------------------------------------------------

def _synth_pixels(width: int, height: int, seed: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 gradient-ish pattern."""
    y = np.arange(height, dtype=np.int64)[:, None, None]
    x = np.arange(width, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((seed * 31 + y * 7 + x * 13 + c * 101) % 256).astype(np.uint8)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM (P6, maxval 255)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def _decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse P6 PPM: ASCII header tokens (with # comments), then raw RGB."""
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            return token()
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        return payload[start:pos]

    magic = token()
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM (magic={magic!r})")
    w, h, maxval = int(token()), int(token()), int(token())
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pos += 1  # single whitespace after maxval
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, px.reshape(h, w, 3)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed 24-bit BMP (bottom-up rows,
    4-byte padded, BGR order)."""
    h, w, _ = pixels.shape
    row_len = (w * 3 + 3) & ~3
    img_size = row_len * h
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + img_size, 0, 0, 54,
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,
    )
    bgr = pixels[:, :, ::-1]
    rows = bytearray()
    pad = b"\x00" * (row_len - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows += bgr[y].tobytes() + pad
    return header + bytes(rows)


def _decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP variant unsupported (bpp={bpp}, comp={compression})")
    top_down = h_raw < 0
    h = abs(h_raw)
    row_len = (w * 3 + 3) & ~3
    rows = []
    for i in range(h):
        y = i if top_down else h - 1 - i
        off = data_off + y * row_len
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    return w, h, np.stack(rows)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG (8-bit truecolor, filter 0 scanlines,
    no interlace).  Pure stdlib: struct + zlib."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[r].astype(np.uint8).tobytes() for r in range(h))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Pure-stdlib PNG decode: 8-bit gray / RGB / RGBA, no interlace,
    all five scanline filters (None/Sub/Up/Average/Paeth).  Gray
    replicates to 3 channels, RGBA drops alpha -- output is always
    (h, w, 3) uint8.  Anything fancier (16-bit, palette, Adam7) raises
    NotImplementedError; swap in PIL at deployment for those."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    idat = bytearray()
    w = h = bitdepth = colortype = interlace = None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bitdepth != 8 or colortype not in (0, 2, 6) or interlace != 0:
        raise NotImplementedError(
            f"PNG variant unsupported (bitdepth={bitdepth}, colortype={colortype}, "
            f"interlace={interlace}): stdlib decoder covers 8-bit gray/RGB/RGBA, "
            "no interlace"
        )
    nch = {0: 1, 2: 3, 6: 4}[colortype]
    stride = w * nch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    rp = 0
    for r in range(h):
        f = raw[rp]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=rp + 1).astype(
            np.int32
        )
        rp += 1 + stride
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth need a left-scan
            rec = line.copy()
            for i in range(stride):
                a = rec[i - nch] if i >= nch else 0  # left
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + prev[i]) >> 1
                else:
                    b = prev[i]
                    c = prev[i - nch] if i >= nch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {f}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    px = out.reshape(h, w, nch)
    if nch == 1:
        px = np.repeat(px, 3, axis=2)
    elif nch == 4:
        px = px[:, :, :3]
    return w, h, np.ascontiguousarray(px)


def _synth_samples(n: int, seed: int) -> np.ndarray:
    i = np.arange(n, dtype=np.int64)
    return (((seed * 7 + i * 13) % 4096 - 2048) * 15).astype(np.int16)


def _synth_samples_modulated(n: int, seed: int, block: int = 16) -> np.ndarray:
    """Synth samples with a seed-dependent BLOCK AMPLITUDE ENVELOPE:
    the flat sawtooth times amp(i) = (seed + i//block) % 5 -- so clips
    have genuinely different loud/quiet contours (amp 0 blocks are true
    digital silence).  The plain _synth_samples stream has uniform
    energy everywhere, which makes every energy-envelope fingerprint
    identical and every VAD frame active -- useless for exercising
    either operator.  All integer arithmetic (|base*amp| <= 2048*4 <
    2^15), so SQL oracles replay it exactly."""
    i = np.arange(n, dtype=np.int64)
    base = (seed * 7 + i * 13) % 4096 - 2048
    amp = (seed + i // block) % 5
    return (base * amp).astype(np.int16)


def synth_audio_modulated(
    spark: SparkSession, n: int = 32, block: int = 16, base_len: int = 64
) -> DataFrame:
    """Audio-only synthetic corpus of WAV clips built from
    _synth_samples_modulated -- the envelope-bearing companion to
    synth_media's audio rows, used by the audio dedup / VAD gates so
    fingerprints discriminate and VAD finds real silence.  media_id =
    0..n-1 (every row audio); clip length base_len + id % 97 samples at
    8 kHz (base_len=64 matches synth_media's audio sizing; the VAD gate
    uses longer clips so runs split and resume across silent frames)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for mid in pdf["id"]:
                mid = int(mid)
                n_s = base_len + mid % 97
                payload = encode_wav(
                    _synth_samples_modulated(n_s, mid, block), rate=8000
                )
                rows["media_id"].append(mid)
                rows["kind"].append("audio")
                rows["payload"].append(payload)
                rows["meta"].append(
                    {"codec": "wav", "rate": "8000", "n_samples": str(n_s)}
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 mono samples -> WAV bytes (stdlib wave writer)."""
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    with wave.open(_io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        raw = wf.readframes(wf.getnframes())
        width = wf.getsampwidth()
        channels = wf.getnchannels()
    if width != 2:
        raise NotImplementedError(f"WAV sample width {width} unsupported")
    samples = np.frombuffer(raw, dtype="<i2")
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1).astype(np.int16)
    return rate, samples


def decode_media(payload: bytes, kind: str) -> dict:
    """Decode a payload by magic number.  Returns a dict:
      image -> {"width", "height", "pixels": (h, w, 3) uint8}
      audio -> {"rate", "samples": int16 array}
    Unknown codecs (MP3/any video) raise NotImplementedError -- swap in
    PIL / soundfile / av here at deployment; everything around this
    kernel (batching, schema, partitioning) is codec-agnostic."""
    if payload[:2] == b"P6":
        w, h, px = _decode_ppm(payload)
        return {"width": w, "height": h, "pixels": px}
    if payload[:2] == b"BM":
        w, h, px = _decode_bmp(payload)
        return {"width": w, "height": h, "pixels": px}
    if payload[:8] == PNG_SIG:
        w, h, px = _decode_png(payload)
        return {"width": w, "height": h, "pixels": px}
    if payload[:2] == b"\xff\xd8":
        w, h, px = decode_jpeg(payload)
        return {"width": w, "height": h, "pixels": px}
    if payload[:6] in GIF_SIGS:
        w, h, px = _decode_gif(payload)
        return {"width": w, "height": h, "pixels": px}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        rate, samples = _decode_wav(payload)
        return {"rate": rate, "samples": samples}
    raise NotImplementedError(
        f"no decoder available for kind={kind!r} (magic={payload[:4]!r}): built-in "
        "codecs cover PPM/BMP/PNG/GIF/JPEG (baseline + progressive)/WAV; install "
        "pillow/soundfile/av for the rest."
    )


def synth_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table of decodable payloads -- PPM,
    PNG and JPEG images, WAV audio -- so the decode kernels run for
    real; video rows stay opaque bytes (no stdlib video codec) with a
    frames count in meta for the sampling path.

    Generation is a mapInPandas over spark.range -- distributed, so a
    large synthetic corpus is produced cluster-side, never on the
    driver."""
    kinds = ["image", "audio", "video"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for mid in pdf["id"]:
                mid = int(mid)
                kind = kinds[mid % 3]
                if kind == "image":
                    w, h = 8 + mid % 9, 6 + mid % 5
                    px = _synth_pixels(w, h, mid)
                    # rotate codecs so the PPM, PNG, baseline-JPEG, and
                    # progressive-JPEG decode paths all run end-to-end
                    # in every gate/test corpus
                    rot = (mid // 3) % 4
                    if rot == 0:
                        payload, codec = encode_ppm(px), "ppm"
                    elif rot == 1:
                        payload, codec = encode_png(px), "png"
                    elif rot == 2:
                        payload, codec = encode_jpeg(px, quality=92), "jpeg"
                    else:
                        payload, codec = (
                            encode_jpeg_progressive(px, quality=92),
                            "jpeg-progressive",
                        )
                    meta = {"codec": codec, "width": str(w), "height": str(h)}
                elif kind == "audio":
                    n_s = 64 + mid % 97
                    payload = encode_wav(_synth_samples(n_s, mid), rate=8000)
                    meta = {"codec": "wav", "rate": "8000", "n_samples": str(n_s)}
                else:
                    payload = hashlib.sha256(str(mid).encode()).digest()
                    meta = {"codec": "synthetic", "frames": str(mid % 7 + 1)}
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["payload"].append(payload)
                rows["meta"].append(meta)
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Opaque-payload stand-in: crc32 of (payload || j), scaled to
    [0, 1).  Used for codecs the kernel can't decode when the caller
    allows fallback."""
    return [
        zlib.crc32(payload + bytes([j])) / 2**32 for j in range(dim)
    ]


def _real_feature(decoded: dict) -> list[float]:
    """FEATURE_DIM stats from decoded pixels/samples (rounded for
    cross-run stability).
      image: [w, h, 3, mean_r, mean_g, mean_b, std, max]   (stats /255)
      audio: [rate, n, 1, mean, std, min, max, zero_cross] (stats /2^15)
    """
    if "pixels" in decoded:
        px = decoded["pixels"].astype(np.float64) / 255.0
        return [
            float(decoded["width"]),
            float(decoded["height"]),
            3.0,
            round(float(px[:, :, 0].mean()), 6),
            round(float(px[:, :, 1].mean()), 6),
            round(float(px[:, :, 2].mean()), 6),
            round(float(px.std()), 6),
            round(float(px.max()), 6),
        ]
    s = decoded["samples"].astype(np.float64) / 32768.0
    zc = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) if len(s) > 1 else 0.0
    return [
        float(decoded["rate"]),
        float(len(s)),
        1.0,
        round(float(s.mean()), 6),
        round(float(s.std()), 6),
        round(float(s.min()), 6),
        round(float(s.max()), 6),
        round(zc, 6),
    ]


def extract_features(df: DataFrame, use_stub: bool | None = None) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    mapInPandas: each Python worker receives columnar batches; the loop
    below is per-batch, and only the decode kernel itself is per-item
    (unavoidable for codec work).  Output schema is fixed and typed.

    use_stub: None (default) decodes payloads with a known magic and
    falls back to the crc32 stand-in for opaque ones (video here);
    True forces the stand-in everywhere; False forces decode and raises
    on any undecodable payload (strict production mode).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload)
                if use_stub is True:
                    feats.append(_fake_feature(raw))
                    continue
                try:
                    feats.append(_real_feature(decode_media(raw, kind)))
                except NotImplementedError:
                    if use_stub is False:
                        raise
                    feats.append(_fake_feature(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of (h, w, 3) to (height, width, 3)."""
    h, w, _ = pixels.shape
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[yi][:, xi]


def resize_media(
    df: DataFrame, width: int = 64, height: int = 64, use_stub: bool | None = None
) -> DataFrame:
    """Resize pass for image rows: Arrow-batched mapInPandas, binary in /
    binary out, target dims carried as typed metadata columns.

    PPM/BMP payloads decode, nearest-neighbor resample, and re-encode as
    PPM for real.  use_stub as in extract_features: None falls back to a
    deterministic digest for undecodable payloads, True forces the
    digest, False raises on undecodable."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload)
                if use_stub is True:
                    out.append(hashlib.sha256(raw + f"|{width}x{height}".encode()).digest())
                    continue
                try:
                    decoded = decode_media(raw, kind)
                    out.append(encode_ppm(resize_nearest(decoded["pixels"], width, height)))
                except NotImplementedError:
                    if use_stub is False:
                        raise
                    out.append(hashlib.sha256(raw + f"|{width}x{height}".encode()).digest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": width,
                    "height": height,
                    "payload": out,
                }
            )

    return df.filter(F.col("kind") == "image").mapInPandas(run, RESIZE_SCHEMA)


def resize_pixel_stats(
    df: DataFrame, width: int = 64, height: int = 64
) -> DataFrame:
    """VALUE-checked resize lane: the lossless image rows (ppm/png) go
    through resize_media FOR REAL (decode -> nearest-neighbor resample
    -> PPM re-encode, strict mode), then the re-encoded payload is
    re-DECODED and reduced to integer pixel stats.  Because the
    nearest-neighbor index map is pure integer math
    (yi = y'*h//height, xi = x'*w//width) over the generator's
    arithmetic pixel formula, a DuckDB oracle re-derives the exact
    stats without touching bytes -- certifying decode + resample +
    encode + decode end-to-end (the mm_decode_verify technique applied
    to the resize kernel).  JPEG rows resize fine but are excluded
    here: their lossy pixels aren't formula-replayable (covered in
    tests/test_multimodal.py instead)."""
    src = df.filter(
        F.element_at(F.col("meta"), F.lit("codec")).isin("ppm", "png")
    )
    resized = resize_media(src, width=width, height=height, use_stub=False)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "width": [], "height": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            for mid, w, h, payload in zip(
                pdf["media_id"], pdf["width"], pdf["height"], pdf["payload"]
            ):
                d = decode_media(bytes(payload), "image")
                px = d["pixels"].astype(np.int64)
                out["media_id"].append(int(mid))
                out["width"].append(int(w))
                out["height"].append(int(h))
                out["px_sum"].append(int(px.sum()))
                out["px_min"].append(int(px.min()))
                out["px_max"].append(int(px.max()))
            yield pd.DataFrame(out)

    return resized.mapInPandas(
        run,
        "media_id long, width long, height long, "
        "px_sum long, px_min long, px_max long",
    )


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video rows: explode meta['frames'] into one row
    per sampled frame index (0, every_n, 2*every_n, ...).

    Pure Catalyst (sequence + explode) -- the frame EXTRACTION would be a
    decode-kernel call per sampled frame; indexes and row shape are the
    real plumbing.
    """
    frames = F.element_at(F.col("meta"), F.lit("frames")).try_cast("int")
    return (
        df.filter(F.col("kind") == "video")
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), frames - 1, F.lit(every_n))),
        )
        .select("media_id", "frame_idx", "payload")
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def dhash64(pixels: np.ndarray) -> int:
    """Difference hash of an image: gray 9x8 nearest-resample, one bit
    per horizontal neighbor comparison (g[r,c] > g[r,c+1]), packed
    MSB-first into a signed 64-bit int.  Standard perceptual hash:
    stable under recompression/resizing, flips few bits under small
    edits -- Hamming distance is the near-dup metric."""
    small = resize_nearest(pixels, 9, 8).astype(np.float64).mean(axis=2)
    bits = (small[:, :-1] > small[:, 1:]).flatten()
    h = np.uint64(0)
    for b in bits:
        h = np.uint64(h << np.uint64(1)) | np.uint64(bool(b))
    return int(np.int64(h))


def image_dhash(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Perceptual 64-bit dHash per image row: Arrow-batched mapInPandas
    decode (any codec decode_media speaks: PPM/BMP/PNG/baseline JPEG)
    -> gray 9x8 difference hash.  Undecodable payloads yield a null
    hash (they can't perceptually collide with anything).

    Output: (media_id, dhash).  Pair with
    `dedup.hamming_candidates64(out, id_col="media_id",
    sig_col="dhash")` for banded image near-dup candidates -- the image
    half of the corpus dedup story (text tiers live in llm/dedup.py).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    decoded = decode_media(bytes(payload), kind)
                    hashes.append(dhash64(decoded["pixels"]))
                except Exception:  # noqa: BLE001 -- unsupported codec OR
                    # corrupt payload: either way there is no perceptual
                    # content to hash; null drops the row from candidate
                    # generation instead of killing a 100 TB job on one
                    # truncated file
                    hashes.append(None)
            yield pd.DataFrame({"media_id": pdf[id_col], "dhash": pd.array(hashes, dtype="Int64")})

    return df.filter(F.col("kind") == "image").mapInPandas(run, DHASH_SCHEMA)


def image_dup_candidates(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Image near-dup candidates: dHash signatures banded into 16-bit
    chunks (llm/dedup.hamming_candidates64) -- same pigeonhole shape as
    SimHash text dedup, so recall is guaranteed for hamming <= 3 and
    the shuffle carries only (id, 8-byte hash).  Output
    (doc_a, doc_b, hamming) over media ids."""
    from .dedup import hamming_candidates64

    sigs = image_dhash(df, id_col=id_col).filter(F.col("dhash").isNotNull())
    return hamming_candidates64(
        sigs,
        id_col=id_col,
        sig_col="dhash",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


VAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("seg_start_ms", T.LongType()),
        T.StructField("seg_end_ms", T.LongType()),
        T.StructField("mean_db", T.DoubleType()),
    ]
)


def vad_segments(
    samples: np.ndarray, rate: int, frame_ms: int = 20, threshold_db: float = -30.0
) -> list[tuple[int, int, float]]:
    """Energy-based voice-activity segments: frame the int16 stream
    into `frame_ms` windows, mark frames whose RMS (dBFS) clears
    `threshold_db`, and merge consecutive active frames.  Returns
    [(start_ms, end_ms, mean_db)] -- the classic cheap VAD every
    speech-data pipeline runs before the expensive ASR/diarization
    stages.  A trailing partial frame is dropped (standard framing)."""
    flen = max(1, rate * frame_ms // 1000)
    n = len(samples) // flen
    if n == 0:
        return []
    frames = samples[: n * flen].astype(np.float64).reshape(n, flen) / 32768.0
    rms = np.sqrt((frames**2).mean(axis=1))
    db = 20.0 * np.log10(np.maximum(rms, 1e-10))
    active = db > threshold_db
    out: list[tuple[int, int, float]] = []
    i = 0
    while i < n:
        if not active[i]:
            i += 1
            continue
        j = i
        while j < n and active[j]:
            j += 1
        out.append(
            (
                i * frame_ms,
                j * frame_ms,
                round(float(db[i:j].mean()), 3),
            )
        )
        i = j
    return out


def audio_vad(
    df: DataFrame, frame_ms: int = 20, threshold_db: float = -30.0
) -> DataFrame:
    """Voice-activity segments for every audio row: Arrow-batched WAV
    decode -> framed RMS energy -> merged active runs, one output row
    per segment (media_id, seg_start_ms, seg_end_ms, mean_db).
    Undecodable payloads contribute no segments.

    Scale: pure mapInPandas -- no shuffle; segment rows are bounded by
    clip length / frame_ms.  Feeds clip trimming, silence-ratio
    quality filters, and ASR pre-segmentation."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "seg_start_ms": [], "seg_end_ms": [], "mean_db": []}
            for mid, payload, kind in zip(pdf["media_id"], pdf["payload"], pdf["kind"]):
                try:
                    decoded = decode_media(bytes(payload), kind)
                    segs = vad_segments(
                        decoded["samples"], decoded["rate"], frame_ms, threshold_db
                    )
                except Exception:  # noqa: BLE001 -- no codec / corrupt: no segments
                    continue
                for s, e, db in segs:
                    rows["media_id"].append(int(mid))
                    rows["seg_start_ms"].append(s)
                    rows["seg_end_ms"].append(e)
                    rows["mean_db"].append(db)
            yield pd.DataFrame(rows) if rows["media_id"] else pd.DataFrame(
                {k: pd.Series(dtype="int64" if k != "mean_db" else "float64")
                 for k in rows}
            )

    return df.filter(F.col("kind") == "audio").mapInPandas(run, VAD_SCHEMA)


AFP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.LongType()),
    ]
)


def audio_fp64(samples: np.ndarray, rate: int) -> int | None:
    """64-bit spectral fingerprint of an audio clip -- the audio
    analogue of the image dHash: frame the clip into 9 equal time
    slices, reduce each slice's power spectrum (|rfft|^2, DC dropped)
    to 8 band energies, and take one bit per TIME-neighbor comparison
    (band[t+1] > band[t]) -> 8x8 = 64 bits, MSB-first signed int64.

    Amplitude-invariant by construction (uniform gain scales every
    band by the same factor, so the comparisons are unchanged) and
    stable under mild noise/requantization -- Hamming distance is the
    near-dup metric, same contract as dhash64.  Clips shorter than 18
    samples have no usable spectrum -> None.
    """
    if len(samples) < 18:
        return None
    x = samples.astype(np.float64) / 32768.0
    flen = len(x) // 9
    bands = np.empty((9, 8))
    for t in range(9):
        seg = x[t * flen : (t + 1) * flen]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        bands[t] = [float(c.sum()) for c in np.array_split(spec[1:], 8)]
    bits = (bands[1:] > bands[:-1]).flatten()
    h = np.uint64(0)
    for b in bits:
        h = np.uint64(h << np.uint64(1)) | np.uint64(bool(b))
    return int(np.int64(h))


def audio_envelope_fp64(samples: np.ndarray) -> int | None:
    """64-bit ENERGY-ENVELOPE fingerprint -- the integer-exact tier
    next to audio_fp64's spectral tier (the dHash bit-pack discipline
    applied to sound): np.array_split the int16 stream into 9 time
    slices, each slice into 8 sub-bands, band energy = sum of squared
    samples (EXACT int64 -- s^2 <= 2^30, bounded samples per band), one
    bit per time-neighbor comparison (energy[t+1][b] > energy[t][b]) ->
    8x8 = 64 bits, MSB-first signed int64 -- the same pack as dhash64 /
    audio_fp64, so dedup.hamming_candidates64 consumes it unchanged.

    Amplitude-invariant like the spectral tier (uniform gain scales
    every energy by the same factor; comparisons unchanged), but every
    intermediate is integer arithmetic on the decoded samples, so a SQL
    oracle can replay fingerprint -> Hamming pairs end-to-end (the
    mm_image_dedup playbook).  Clips shorter than 9 samples -> None."""
    if len(samples) < 9:
        return None
    x = samples.astype(np.int64)
    bands = np.zeros((9, 8), dtype=np.int64)
    for t, seg in enumerate(np.array_split(x, 9)):
        for b, sub in enumerate(np.array_split(seg, 8)):
            bands[t, b] = int((sub * sub).sum())
    bits = (bands[1:] > bands[:-1]).flatten()
    h = 0
    for bit in bits:
        h = (h << 1) | int(bit)
    return h - (1 << 64) if h >= (1 << 63) else h


def _envelope_fp64_batch(clips: "list[np.ndarray | None]") -> "list[int | None]":
    """Batched audio_envelope_fp64: identical fingerprints, ONE
    vectorized pass over the whole Arrow batch instead of a 9x8 Python
    loop per clip (72 sub-array allocations + 72 interpreter-level
    reductions per row -- per-row Python work inside the batch, the
    exact boundary cost mapInPandas exists to avoid).

    The nested np.array_split boundaries are reproduced arithmetically
    (first split of L into 9: sizes L//9 + (t < L%9); each segment into
    8 likewise), all 72 band offsets per clip are laid over the
    CONCATENATED squared-sample stream, and every band energy comes
    from a single np.add.reduceat.  reduceat quirks handled: a
    zero-length band returns the element AT its offset (not 0) and an
    offset equal to the stream length is out of bounds -- one padded 0
    and an explicit empty-band mask restore exact semantics.  Parity
    with the scalar function is pytest-pinned across awkward lengths
    (exactly 9, < 72, non-divisible, empty sub-bands)."""
    idx = [i for i, s in enumerate(clips) if s is not None and len(s) >= 9]
    out: list[int | None] = [None] * len(clips)
    if not idx:
        return out
    lens = np.array([len(clips[i]) for i in idx], dtype=np.int64)
    t = np.arange(9)
    seg = lens[:, None] // 9 + (t[None, :] < (lens[:, None] % 9))  # (n, 9)
    b = np.arange(8)
    sub = seg[:, :, None] // 8 + (b[None, None, :] < (seg[:, :, None] % 8))
    sub_flat = sub.reshape(len(idx), 72)  # (n, 72) band lengths, t-major
    within = np.cumsum(sub_flat, axis=1) - sub_flat  # exclusive prefix
    base = np.cumsum(lens) - lens
    offsets = (base[:, None] + within).ravel()
    xx = np.concatenate([clips[i] for i in idx]).astype(np.int64)
    xx *= xx  # s^2 <= 2^30: exact in int64, sums bounded by samples/band
    energies = np.add.reduceat(np.append(xx, 0), offsets)
    energies[sub_flat.ravel() == 0] = 0
    bands = energies.reshape(len(idx), 9, 8)
    bits = (bands[:, 1:, :] > bands[:, :-1, :]).reshape(len(idx), 64)
    packed = np.packbits(bits, axis=1)  # (n, 8) bytes, MSB-first
    h = (
        np.frombuffer(packed.tobytes(), dtype=">u8")
        .astype(np.uint64)
        .view(np.int64)
    )
    for j, i in enumerate(idx):
        out[i] = int(h[j])
    return out


def audio_fingerprint(
    df: DataFrame, id_col: str = "media_id", method: str = "spectral"
) -> DataFrame:
    """64-bit fingerprint per audio row: Arrow-batched WAV decode ->
    method='spectral' (audio_fp64: framed |rfft|^2 band-energy
    difference hash -- the production perceptual tier) or
    method='envelope' (audio_envelope_fp64: integer time-domain energy
    contour -- the value-oracle-replayable tier).  Undecodable /
    too-short payloads yield a null fingerprint.  Output (media_id,
    afp); pair with dedup.hamming_candidates64 for banded audio
    near-dup candidates."""
    if method not in ("spectral", "envelope"):
        raise ValueError(f"unknown audio fingerprint method: {method!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if method == "envelope":
                # decode per row (the codec is inherently per-payload),
                # fingerprint the WHOLE batch in one vectorized pass
                samples: list[np.ndarray | None] = []
                for payload, kind in zip(pdf["payload"], pdf["kind"]):
                    try:
                        samples.append(decode_media(bytes(payload), kind)["samples"])
                    except Exception:  # noqa: BLE001 -- no codec / corrupt
                        # payload: nothing to fingerprint; null drops the
                        # row from candidate generation
                        samples.append(None)
                fps: list[int | None] = _envelope_fp64_batch(samples)
            else:
                fps = []
                for payload, kind in zip(pdf["payload"], pdf["kind"]):
                    try:
                        decoded = decode_media(bytes(payload), kind)
                        fps.append(
                            audio_fp64(decoded["samples"], decoded["rate"])
                        )
                    except Exception:  # noqa: BLE001 -- no codec / corrupt
                        # payload: nothing to fingerprint; null drops the
                        # row from candidate generation
                        fps.append(None)
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "afp": pd.array(fps, dtype="Int64")}
            )

    return df.filter(F.col("kind") == "audio").mapInPandas(run, AFP_SCHEMA)


def audio_dup_candidates(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    max_bucket_size: int | None = 4096,
    method: str = "spectral",
) -> DataFrame:
    """Audio near-dup candidates: fingerprints (spectral or envelope
    tier, see audio_fingerprint) banded into 16-bit chunks
    (llm/dedup.hamming_candidates64) -- pigeonhole recall guarantee for
    hamming <= 3, shuffle carries only (id, 8-byte fingerprint).  The
    audio half of the multimodal dedup story (images:
    image_dup_candidates)."""
    from .dedup import hamming_candidates64

    sigs = audio_fingerprint(df, id_col=id_col, method=method).filter(
        F.col("afp").isNotNull()
    )
    return hamming_candidates64(
        sigs,
        id_col=id_col,
        sig_col="afp",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


# --------------------------------------------------------------------------
# Corrupt-media quarantine.  Real crawl corpora carry truncated and
# malformed files; a decode kernel that raises inside mapInPandas would
# fail the whole task (and, at 100 TB, the whole scan stage after 4
# retries).  decode_quarantine routes per-row decode errors to a typed
# status/error column instead -- the binary-media analog of the JSON
# quarantine lane (e21_quarantine).
# --------------------------------------------------------------------------

QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("status", T.StringType()),  # ok | quarantined | unsupported
        T.StructField("error", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def decode_quarantine(df: DataFrame) -> DataFrame:
    """Decode every payload, never fail the task: per row emit
    status = 'ok' (decodes), 'unsupported' (no codec for the format --
    the guarded NotImplementedError boundary), or 'quarantined' (a
    codec STARTED and hit corrupt bytes), with the exception class +
    message in `error`.  Arrow-batched mapInPandas; the happy path costs
    exactly one decode, the quarantine path costs the partial parse that
    failed -- no retries, no task death.  Downstream: filter
    status='ok' for the clean lane, persist the rest for triage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            status, error = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload)
                try:
                    decode_media(raw, kind)
                    status.append("ok")
                    error.append(None)
                except NotImplementedError as exc:
                    status.append("unsupported")
                    error.append(f"{type(exc).__name__}: {exc}"[:200])
                except Exception as exc:  # noqa: BLE001 -- the quarantine contract
                    status.append("quarantined")
                    error.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "codec": [
                        (m or {}).get("codec", "unknown") for m in pdf["meta"]
                    ],
                    "status": status,
                    "error": error,
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return df.mapInPandas(run, QUARANTINE_SCHEMA)


def corrupt_media(df: DataFrame, every_n: int = 5, offset: int = 0) -> DataFrame:
    """Deterministically damage every `every_n`-th payload (by media_id),
    rotating three real-world failure modes: hard truncation (network
    cut), mid-file byte flip (bit rot / bad marker), and a lying magic
    number (mislabeled format).  Pure column expressions -- the fixture
    generator for quarantine tests and the mm_decode_quarantine gate."""
    sel = F.pmod(F.col("media_id") + F.lit(int(offset)), F.lit(int(every_n))) == 0
    # decorrelate the damage mode from kind (kind is media_id % 3 in the
    # synthetic corpus): index by the selected row's ordinal, not the id
    mode = F.pmod(F.floor(F.col("media_id") / F.lit(int(every_n))), F.lit(3))
    n = F.length("payload")
    truncated = F.expr("substring(payload, 1, greatest(int(length(payload) * 0.6), 4))")
    flipped = F.concat(
        F.expr("substring(payload, 1, int(length(payload) / 2))"),
        F.lit(b"\xff\x00\xde\xad"),
        F.expr("substring(payload, int(length(payload) / 2) + 5)"),
    )
    mislabeled = F.concat(F.lit(b"P6"), F.expr("substring(payload, 3)"))
    damaged = (
        F.when(mode == 0, truncated)
        .when((mode == 1) & (n > 12), flipped)
        .otherwise(mislabeled)
    )
    return df.withColumn(
        "payload", F.when(sel, damaged).otherwise(F.col("payload"))
    )


GIF_SIGS = (b"GIF87a", b"GIF89a")


def _encode_gif(pixels: "np.ndarray", interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> GIF89a with a REAL LZW-compressed stream
    (dictionary growth, variable code widths, clear/end codes) -- a
    conforming encoder so the decoder is testable without PIL, the
    progressive-JPEG-encoder pattern.  Requires <= 256 distinct colors
    (GIF is palette-indexed; a real pipeline dithers first)."""
    import numpy as np

    h, w = pixels.shape[:2]
    flat = pixels.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"GIF needs <= 256 colors, got {len(colors)}")
    # palette size must be a power of two >= 2
    psize = 2
    while psize < len(colors):
        psize *= 2
    palette = np.zeros((psize, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    idx = inverse.reshape(h, w).astype(np.int32)
    if interlace:
        order = _gif_interlace_rows(h)
        idx = idx[order]

    min_code = max(2, psize.bit_length() - 1)  # log2(psize), >= 2
    clear, end = 1 << min_code, (1 << min_code) + 1
    # LZW encode
    table = {(i,): i for i in range(1 << min_code)}
    next_code = end + 1
    width = min_code + 1
    out_bits: list[tuple[int, int]] = [(clear, width)]
    seq: tuple = ()
    for p in idx.reshape(-1):
        cand = seq + (int(p),)
        if cand in table:
            seq = cand
            continue
        out_bits.append((table[seq], width))
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            out_bits.append((clear, width))
            table = {(i,): i for i in range(1 << min_code)}
            next_code = end + 1
            width = min_code + 1
        seq = (int(p),)
    if seq:
        out_bits.append((table[seq], width))
    out_bits.append((end, width))
    # pack LSB-first
    acc = n = 0
    data = bytearray()
    for code, cw in out_bits:
        acc |= code << n
        n += cw
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)

    head = bytearray(b"GIF89a")
    gct_bits = psize.bit_length() - 1  # 2^(bits) = psize
    head += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    head.append(0x80 | (gct_bits - 1) & 7)  # GCT present, size field
    head += b"\x00\x00"
    head += palette.tobytes()
    head.append(0x2C)  # image descriptor
    head += b"\x00\x00\x00\x00" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    head.append(0x40 if interlace else 0x00)
    head.append(min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        head.append(len(chunk))
        head += chunk
    head.append(0)  # block terminator
    head.append(0x3B)  # trailer
    return bytes(head)


def _gif_interlace_rows(h: int) -> list:
    """GIF interlace pass order: rows 0,8,16.. then 4,12.. then 2,6..
    then 1,3,5.. -- the row permutation applied at ENCODE time; the
    decoder inverts it."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def _decode_gif(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Pure-stdlib GIF decode: 87a/89a, global color table, full LZW
    (dictionary growth, variable widths, clear/end, deferred clears),
    interlace, first frame; extensions skipped.  Local color tables /
    transparency composition raise NotImplementedError (swap in PIL)."""
    import numpy as np

    if payload[:6] not in GIF_SIGS:
        raise ValueError("not a GIF")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table")
    gct_n = 2 << (packed & 7)
    palette = np.frombuffer(payload[pos : pos + 3 * gct_n], dtype=np.uint8).reshape(
        gct_n, 3
    )
    pos += 3 * gct_n
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:
            raise ValueError("GIF trailer before any image data")
        if b == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        iw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        ih = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        ipacked = payload[pos + 8]
        pos += 9
        if ipacked & 0x80:
            raise NotImplementedError("GIF local color tables unsupported")
        interlaced = bool(ipacked & 0x40)
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            n = payload[pos]
            data += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        # LZW decode
        clear, end = 1 << min_code, (1 << min_code) + 1
        base = {i: (i,) for i in range(1 << min_code)}
        table = dict(base)
        next_code = end + 1
        width = min_code + 1
        acc = nbits = 0
        prev: tuple | None = None
        out: list = []
        i = 0
        done = False
        while i < len(data) and not done:
            acc |= data[i] << nbits
            nbits += 8
            i += 1
            while nbits >= width:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
                if code == clear:
                    table = dict(base)
                    next_code = end + 1
                    width = min_code + 1
                    prev = None
                    continue
                if code == end:
                    done = True
                    break
                if prev is None:
                    entry = table[code]
                elif code in table:
                    entry = table[code]
                    table[next_code] = prev + (entry[0],)
                    next_code += 1
                elif code == next_code:
                    entry = prev + (prev[0],)
                    table[next_code] = entry
                    next_code += 1
                else:
                    raise ValueError(f"corrupt LZW stream (code {code})")
                out.extend(entry)
                prev = entry
                if next_code >= (1 << width) and width < 12:
                    width += 1
        if len(out) < iw * ih:
            raise ValueError("GIF pixel data truncated")
        idx = np.array(out[: iw * ih], dtype=np.int32).reshape(ih, iw)
        if interlaced:
            inv = np.empty(ih, dtype=np.int64)
            inv[np.array(_gif_interlace_rows(ih), dtype=np.int64)] = np.arange(ih)
            idx = idx[inv]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("GIF index beyond palette")
        return iw, ih, palette[idx]
    raise ValueError("GIF contains no image block")


def decode_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL byte-level decode, value-checkable: parse each lossless
    image payload (PPM header+raw; PNG inflate + scanline unfilter)
    and emit integer pixel statistics.  Because the synthetic pixel
    pattern is pure arithmetic and these codecs are lossless, a DuckDB
    oracle re-derives the exact same stats from the generator formula
    WITHOUT touching the bytes -- certifying the decoders (not just
    their plumbing) end-to-end.  JPEG rows are excluded (lossy by
    design).  Arrow-batched mapInPandas, bytes-columnar, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "codec": [], "width": [], "height": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                codec = (meta or {}).get("codec", "")
                if codec not in ("ppm", "png"):
                    continue
                d = decode_media(bytes(payload), "image")
                px = d["pixels"].astype(np.int64)
                out["media_id"].append(int(mid))
                out["codec"].append(codec)
                out["width"].append(int(d["width"]))
                out["height"].append(int(d["height"]))
                out["px_sum"].append(int(px.sum()))
                out["px_min"].append(int(px.min()))
                out["px_max"].append(int(px.max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        "media_id long, codec string, width long, height long, "
        "px_sum long, px_min long, px_max long",
    )


def decode_sample_stats(media: DataFrame) -> DataFrame:
    """WAV sibling of decode_pixel_stats: parse the RIFF/PCM payload
    for real and emit integer sample statistics the oracle re-derives
    from the generator's arithmetic sample formula (PCM is lossless)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "rate": [], "n_samples": [],
                "s_sum": [], "s_min": [], "s_max": [],
            }
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                if (meta or {}).get("codec") != "wav":
                    continue
                d = decode_media(bytes(payload), "audio")
                s = d["samples"].astype(np.int64)
                out["media_id"].append(int(mid))
                out["rate"].append(int(d["rate"]))
                out["n_samples"].append(int(len(s)))
                out["s_sum"].append(int(s.sum()))
                out["s_min"].append(int(s.min()))
                out["s_max"].append(int(s.max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        "media_id long, rate long, n_samples long, "
        "s_sum long, s_min long, s_max long",
    )


def gif_roundtrip_stats(spark: SparkSession, n: int = 40) -> DataFrame:
    """GIF codec certification: synthesize the arithmetic pixel pattern
    per id, push it through the REAL LZW encoder and decoder
    (interlaced on odd ids), and emit integer pixel stats -- the
    oracle re-derives them from the formula, so the whole
    encode->decode loop is value-checked without PIL.  The gradient
    pattern has <= 256 distinct colors by construction (each channel
    offsets the same base mod 256), which is exactly GIF's palette
    contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "interlaced": [], "width": [], "height": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            for mid in pdf["id"]:
                mid = int(mid)
                w, h = 8 + mid % 9, 6 + mid % 5
                px = _synth_pixels(w, h, mid)
                inter = bool(mid % 2)
                dec_w, dec_h, back = _decode_gif(_encode_gif(px, interlace=inter))
                if (dec_w, dec_h) != (w, h) or not (back == px).all():
                    raise ValueError(f"GIF roundtrip mismatch for id {mid}")
                b = back.astype(np.int64)
                out["media_id"].append(mid)
                out["interlaced"].append(inter)
                out["width"].append(w)
                out["height"].append(h)
                out["px_sum"].append(int(b.sum()))
                out["px_min"].append(int(b.min()))
                out["px_max"].append(int(b.max()))
            yield pd.DataFrame(out)

    return spark.range(n).mapInPandas(
        run,
        "media_id long, interlaced boolean, width long, height long, "
        "px_sum long, px_min long, px_max long",
    )
