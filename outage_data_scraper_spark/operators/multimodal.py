"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video assets travel as ``binary`` columns with typed metadata
(schemas.ASSETS). Decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages with real schemas, partitioning and
batch shapes.

Decode is REAL wherever stdlib + numpy suffice: raw-bitmap PPM (P6
header parse + frombuffer), 8-bit PNG (IDAT is stdlib-zlib deflate over
per-scanline-filtered samples — decode_png unfilters all five PNG
filters in numpy), baseline JPEG (operators/jpeg.py: Huffman + IDCT in
pure numpy), MJPEG-in-AVI video (RIFF walk → per-frame JPEG decode),
and PCM WAV (RIFF chunk walk + frombuffer → per-window RMS features).
So image, video and audio paths all exercise genuine pixel/sample math
end-to-end (JPEG covers baseline AND progressive, 4:2:0/4:2:2, restart
markers; GIF covers LZW, interlace and animations; FLAC covers rice +
fixed/LPC prediction with a bit-exact lossless round trip —
operators/flac.py). Lossy-VP8 WebP and MP3/AAC stay honestly stubbed
behind NotImplementedError: their bitstreams need ~1000-entry spec
probability/Huffman tables (RFC 6386 / ISO 11172-3) unobtainable in
this offline container, and inventing local tables would silently
break real-world compatibility; dispatch is per payload with a clearly-marked
deterministic fake fallback for undecodable kinds so the distributed
plumbing stays testable everywhere; malformed payloads fall back per
row (O23 design), never aborting a task.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from .flac import decode_flac, encode_flac
from .gif import decode_gif, decode_gif_frames, encode_gif
from .webp import decode_webp, encode_webp
from .jpeg import (
    decode_avi_mjpeg,
    decode_jpeg,
    encode_avi_mjpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

FEATURES_SCHEMA = "asset_id long, kind string, feat array<float>, feat_dim int, decoder string"


# -- real raw-bitmap codec (pure numpy, no external libs) ----------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 HxWx3 array → binary PPM (P6)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → uint8 HxWx3 array. Raises ValueError on a
    malformed header (captured per-row by the feature stage)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    data = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3)
    return data.reshape(h, w, 3)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(arr: np.ndarray, filter_mode: str = "none") -> bytes:
    """uint8 HxWx3 array → 8-bit truecolor PNG (stdlib zlib deflate).

    ``filter_mode='none'`` writes filter byte 0 on every scanline;
    ``'cycle'`` cycles filters 0–4 row by row (None/Sub/Up/Average/Paeth)
    so a decoder roundtrip exercises every unfilter path."""
    import struct
    import zlib

    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    rows = []
    prev = np.zeros((w, 3), dtype=np.uint8)
    for y in range(h):
        row = arr[y]
        f = 0 if filter_mode == "none" else y % 5
        left = np.vstack([np.zeros((1, 3), np.uint8), row[:-1]])
        ul = np.vstack([np.zeros((1, 3), np.uint8), prev[:-1]])
        if f == 0:
            filt = row
        elif f == 1:
            filt = row.astype(np.int16) - left
        elif f == 2:
            filt = row.astype(np.int16) - prev
        elif f == 3:
            filt = row.astype(np.int16) - (
                (left.astype(np.int16) + prev.astype(np.int16)) // 2
            )
        else:
            filt = row.astype(np.int16) - _paeth(left, prev, ul)
        rows.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(rows))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized over a scanline."""
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = ul.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit PNG → uint8 HxWx3 array, pure stdlib-zlib + numpy: IDAT is
    zlib deflate over per-scanline-filtered samples, so no codec library
    is needed. Supports bit depth 8, color types 0 (gray), 2 (RGB) and
    6 (RGBA, alpha dropped), non-interlaced — all five scanline filters.
    Raises ValueError on anything else (captured per-row upstream)."""
    import struct
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            if len(data) != 13:
                # keep every malformed-payload path on ValueError so the
                # per-row fallbacks upstream catch it (O23 design) —
                # struct.error from a short IHDR would abort the task
                raise ValueError("bad PNG IHDR length")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("only 8-bit non-interlaced PNG supported")
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG deflate stream: {e}") from e
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, w, channels), dtype=np.uint8)
    prev = np.zeros((w, channels), dtype=np.int16)
    for y in range(h):
        off = y * (stride + 1)
        f = raw[off]
        row = (
            np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
            .reshape(w, channels)
            .astype(np.int16)
        )
        if f == 0:
            cur = row
        elif f == 2:
            cur = (row + prev) % 256
        elif f in (1, 3, 4):
            # left-dependent filters are sequential along the scanline
            cur = np.zeros_like(row)
            for x in range(w):
                left = cur[x - 1] if x else np.zeros(channels, np.int16)
                up = prev[x]
                ul = prev[x - 1] if x else np.zeros(channels, np.int16)
                if f == 1:
                    cur[x] = (row[x] + left) % 256
                elif f == 3:
                    cur[x] = (row[x] + (left + up) // 2) % 256
                else:
                    cur[x] = (row[x] + _paeth(left, up, ul)) % 256
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    if channels == 1:
        out = np.repeat(out, 3, axis=2)
    elif channels == 4:
        out = out[:, :, :3]
    return out


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 PCM samples, shape (n,) mono or (n, ch) → RIFF/WAVE bytes
    (format 1, 16-bit little-endian) — pure struct, no codec library."""
    import struct

    if samples.ndim == 1:
        samples = samples[:, None]
    assert samples.dtype == np.int16
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (format 1, 8- or 16-bit) → (float32 samples in
    [−1, 1] shaped (n, ch), sample_rate). Pure struct + numpy — PCM WAV
    needs no codec library, so audio decodes for REAL here. Raises
    ValueError on anything else (captured per-row upstream)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        chunk = payload[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if length < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif cid == b"data":
            data = chunk
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16) or ch == 0:
        raise ValueError(f"only 8/16-bit PCM WAV supported (fmt={audio_format})")
    if bits == 16:
        arr = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    else:
        arr = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    n = len(arr) // ch
    return arr[: n * ch].reshape(n, ch), rate


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Audio payload → (float32 samples in [−1, 1] shaped (n, ch),
    sample_rate). PCM WAV and FLAC both decode for REAL (flac.py is a
    from-scratch rice+LPC codec); FLAC being lossless, a FLAC asset
    yields bit-identical floats to its WAV twin."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == b"fLaC":
        samples, rate, bps = decode_flac(payload)
        return samples.astype(np.float32) / float(1 << (bps - 1)), rate
    raise ValueError("unsupported audio container (PCM WAV / FLAC decode natively)")


def _audio_features(samples: np.ndarray, dim: int) -> np.ndarray:
    """Real audio features: per-window RMS energy over ``dim`` equal
    windows of the mono mix, mapped to [−1, 1]."""
    mono = samples.mean(axis=1)
    n = len(mono)
    edges = np.linspace(0, n, dim + 1).astype(int)
    rms = np.asarray(
        [
            np.sqrt(np.mean(np.square(mono[edges[i] : max(edges[i + 1], edges[i] + 1)])))
            if edges[i] < n
            else 0.0
            for i in range(dim)
        ],
        dtype=np.float32,
    )
    return rms * 2.0 - 1.0


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload. P6 PPM, 8-bit PNG, JPEG (baseline AND
    progressive), GIF and lossless WebP (VP8L) decode for real (pure
    numpy / stdlib zlib); other compressed formats require a codec
    library absent from this container."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return decode_webp(payload)  # VP8L; lossy VP8 raises inside
    raise NotImplementedError(
        "HEIC/AVIF/… decode requires a codec library not present in this "
        "container; PPM, PNG, JPEG, GIF and VP8L-WebP decode natively"
    )


def _mean_pool_features(img: np.ndarray, dim: int) -> np.ndarray:
    """Real pixel features: grayscale mean-pool over a ceil-sqrt grid,
    truncated/padded to ``dim`` and scaled to [−1, 1]."""
    gray = img.mean(axis=2)
    g = int(np.ceil(np.sqrt(dim)))
    h, w = gray.shape
    ys = np.linspace(0, h, g + 1).astype(int)
    xs = np.linspace(0, w, g + 1).astype(int)
    cells = [
        gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
        for i in range(g)
        for j in range(g)
    ]
    out = (np.asarray(cells[:dim], dtype=np.float32) - 127.5) / 127.5
    if len(out) < dim:
        out = np.pad(out, (0, dim - len(out)))
    return out


def asset_payload(i: int, kind: str) -> bytes:
    """Deterministic payload for synthetic asset ``i`` of ``kind`` — the
    one generator shared by the distributed synth_assets table and the
    committed q28 oracle (scripts/gen_q28_oracle.py), so the expected
    signatures are stamped from EXACTLY the bytes Spark decodes."""
    if kind == "image":
        rng = np.random.default_rng(i)
        h, w = 24 + i % 17, 24 + (i * 7) % 23
        base = np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256
        img = np.stack(
            [(base + k * 37 + rng.integers(0, 8)) % 256 for k in range(3)],
            axis=2,
        ).astype(np.uint8)
        # cycle container formats: raw PPM, zlib-deflate PNG (filters
        # cycled), baseline JPEG (subsampling cycled), PROGRESSIVE
        # JPEG, GIF (interlace cycled), lossless WebP (transform set
        # cycled) — all real-decodable downstream, so q28's
        # committed-signature gate covers every decode path
        # variant selectors derive from j = i//3, NOT i: image ids are
        # exactly the multiples of 3, so i%k would be constant and the
        # subsampling/restart/interlace variants would never cycle
        j = i // 3
        c = j % 6
        if c == 1:
            return encode_png(img, filter_mode="cycle")
        if c == 2:
            return encode_jpeg(
                img,
                subsampling=("444", "422", "420")[j % 3],
                restart_interval=(0, 2)[j % 2],
            )
        if c == 3:
            return encode_jpeg_progressive(
                img, subsampling=("444", "420")[j % 2]
            )
        if c == 4:
            return encode_gif(img, interlace=bool(j % 2))
        if c == 5:
            # cycle the VP8L transform stack: plain, subtract-green +
            # predictor, palette-free cross-color, color-cache sizes —
            # each variant exercises a distinct decoder branch
            v = j % 4
            if v == 1:
                return encode_webp(img, subtract_green=True, predictor_mode=2)
            if v == 2:
                return encode_webp(
                    img, color_transform=(32, 16, 8), cache_bits=0
                )
            if v == 3:
                return encode_webp(img, predictor_mode=11, meta_split=True)
            return encode_webp(img)
        return encode_ppm(img)
    if kind == "audio":
        # real 16-bit PCM audio: deterministic tone + hash noise, 0.2 s
        # at 8 kHz — containers cycle WAV / FLAC(fixed, auto stereo
        # mode) / FLAC(LPC stereo, left-side) / FLAC(small blocks,
        # mid-side), all real-decodable downstream, so q28's
        # committed-signature gate covers every audio decode path
        rng = np.random.default_rng(i)
        t = np.arange(1600, dtype=np.float32) / 8000.0
        freq = 200.0 + (i * 37) % 1800
        wave = 0.6 * np.sin(2 * np.pi * freq * t)
        wave += 0.1 * rng.standard_normal(1600).astype(np.float32)
        mono = (np.clip(wave, -1, 1) * 32767).astype(np.int16)
        j = i // 3  # audio ids are 3j+1, so cycle on j, not i
        c = j % 4
        if c == 1:
            return encode_flac(mono.astype(np.int32), 8000, block_size=512)
        if c in (2, 3):
            # stereo: right channel is a damped, shifted copy — exactly
            # the inter-channel correlation the side modes exploit
            right = np.roll(mono, 5) // 2 + (j % 7)
            stereo = np.stack([mono, right.astype(np.int16)], axis=1)
            if c == 2:
                return encode_flac(
                    stereo.astype(np.int32), 8000, block_size=1024,
                    stereo_mode="left-side", use_lpc=True,
                )
            return encode_flac(
                stereo.astype(np.int32), 8000, block_size=192,
                stereo_mode="mid-side",
            )
        return encode_wav(mono, 8000)
    # video: REAL MJPEG-in-AVI — 4 deterministic gradient frames that
    # drift per frame index, decodable end-to-end downstream
    rng = np.random.default_rng(i)
    h, w = 16 + i % 9, 16 + (i * 5) % 13
    frames = []
    for f in range(4):
        base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + f * 31) % 256
        frames.append(
            np.stack(
                [(base + k * 41 + rng.integers(0, 8)) % 256 for k in range(3)],
                axis=2,
            ).astype(np.uint8)
        )
    return encode_avi_mjpeg(frames, fps=4 + i % 7)


ASSET_KINDS = ("image", "audio", "video")


def synth_assets(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic synthetic asset table, generated distributed via
    spark.range. Image assets cycle REAL P6 PPM / PNG / baseline-JPEG
    (444/422/420, with and without restart markers) / progressive-JPEG
    / GIF containers (pixels are a deterministic gradient+hash pattern,
    built executor-side in a pandas UDF); audio assets carry REAL
    16-bit PCM WAV (tone + hash noise); video REAL MJPEG-in-AVI."""

    @F.pandas_udf(BinaryType())
    def payload_for(ids: pd.Series, kinds: pd.Series) -> pd.Series:
        return pd.Series([asset_payload(int(i), k) for i, k in zip(ids, kinds)])

    base = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), 3) + 1).cast("int"),
        ).alias("kind"),
        (64 + F.pmod(F.xxhash64("id"), 512)).cast("int").alias("width"),
        (64 + F.pmod(F.xxhash64("id", F.lit(1)), 512)).cast("int").alias("height"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 600) / 10.0).alias("duration_s"),
    )
    return base.select(
        "asset_id",
        "kind",
        payload_for(F.col("asset_id"), F.col("kind")).alias("payload"),
        F.when(
            F.col("kind") == "image",
            # mirror asset_payload's 5-way container cycle
            F.element_at(
                F.array(
                    F.lit("image/x-portable-pixmap"),
                    F.lit("image/png"),
                    F.lit("image/jpeg"),
                    F.lit("image/jpeg"),
                    F.lit("image/gif"),
                ),
                (F.pmod(F.floor(F.col("asset_id") / 3), 5) + 1).cast("int"),
            ),
        )
        .when(
            F.col("kind") == "audio",
            # mirror asset_payload's 4-way audio container cycle
            F.when(
                F.pmod(F.floor(F.col("asset_id") / 3), 4) == 0, F.lit("audio/wav")
            ).otherwise(F.lit("audio/flac")),
        )
        .when(F.col("kind") == "video", F.lit("video/x-msvideo"))
        .otherwise(F.lit("application/octet-stream"))
        .alias("mime"),
        "width",
        "height",
        "duration_s",
    )


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic fake 'embedding' from the payload digest — a stand-in
    with the exact shape/dtype a real encoder would produce."""
    h = hashlib.blake2b(payload, digest_size=dim)
    return (np.frombuffer(h.digest(), dtype=np.uint8).astype(np.float32) - 128.0) / 128.0


def payload_features(raw: bytes, dim: int) -> tuple[np.ndarray, str]:
    """(features, decoder-label) for ONE payload through the real-decode
    dispatch with the labeled fake fallback. Single source of truth
    shared by the Spark stages and the committed q28 oracle generator
    (scripts/gen_q28_oracle.py) — malformed bytes that happen to carry a
    magic number fall back per row (O23 design), never aborting."""
    feat, label = None, None
    try:
        if raw[:2] == b"P6":
            feat = _mean_pool_features(decode_ppm(raw), dim)
            label = "ppm-numpy"
        elif raw[: len(_PNG_SIG)] == _PNG_SIG:
            feat = _mean_pool_features(decode_png(raw), dim)
            label = "png-zlib"
        elif raw[:2] == b"\xff\xd8":
            feat = _mean_pool_features(decode_jpeg(raw), dim)
            label = "jpeg-numpy"
        elif raw[:6] in (b"GIF87a", b"GIF89a"):
            frames = decode_gif_frames(raw)
            feat = np.mean(
                [_mean_pool_features(f, dim) for f in frames], axis=0
            ).astype(np.float32)
            label = "gif-lzw"
        elif raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
            feat = _mean_pool_features(decode_webp(raw), dim)
            label = "webp-vp8l"
        elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            feat = _audio_features(decode_wav(raw)[0], dim)
            label = "wav-pcm"
        elif raw[:4] == b"fLaC":
            feat = _audio_features(decode_audio(raw)[0], dim)
            label = "flac-rice"
        elif raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
            frames, _fps = decode_avi_mjpeg(raw)
            feat = np.mean(
                [_mean_pool_features(f, dim) for f in frames], axis=0
            ).astype(np.float32)
            label = "mjpeg-avi"
    except (ValueError, struct.error, NotImplementedError):
        feat = None  # exotic-but-magic'd payload → labeled fake, per row
    if feat is None:
        return _fake_features(raw, dim), "fake-blake2b"
    return feat, label


def feature_signature(feat) -> str:
    """Canonical md5 digest of a feature vector: values formatted %.4f,
    comma-joined. Both the Spark decode path and the committed oracle
    compute this with the SAME code on the same float32 values, so the
    driver's value-hash compare checks the real decode end-to-end."""
    s = ",".join(f"{float(x):.4f}" for x in feat)
    return hashlib.md5(s.encode()).hexdigest()


SIGNATURES_SCHEMA = "asset_id long, kind string, decoder string, feat_sig string"


def extract_feature_signatures(assets: DataFrame, dim: int = 16) -> DataFrame:
    """Real-decode feature extraction reduced to per-asset signatures:
    one Arrow-batched pass computing payload_features + feature_signature
    at the source (features never cross Arrow as floats, so the value
    check is immune to serde/format drift). The q28 value-level gate runs
    this against the committed expected parquet."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sigs, decoders = [], []
            for payload in b["payload"]:
                if payload is None:
                    sigs.append(None)
                    decoders.append(None)
                    continue
                feat, label = payload_features(bytes(payload), dim)
                sigs.append(feature_signature(feat))
                decoders.append(label)
            yield pd.DataFrame(
                {
                    "asset_id": b["asset_id"],
                    "kind": b["kind"],
                    "decoder": decoders,
                    "feat_sig": sigs,
                }
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        run, SIGNATURES_SCHEMA
    )


def extract_features(assets: DataFrame, dim: int = 32, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``fake=True``: every row gets the digest fake (plumbing-only mode).
    ``fake=False``: auto-dispatch — PPM/PNG/JPEG images, PCM-WAV audio
    and MJPEG-AVI video all decode for REAL (labels ppm-numpy /
    png-zlib / jpeg-numpy / wav-pcm / mjpeg-avi); payloads no native
    decoder can handle fall back to the fake, clearly labeled.
    The batch shape (one Arrow batch of payload bytes at a time, features
    as array<float>) is exactly what a GPU encoder stage needs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = []
            decoders = []
            for payload in b["payload"]:
                if payload is None:
                    feats.append(None)
                    decoders.append(None)
                    continue
                raw = bytes(payload)
                if fake:
                    feat, label = _fake_features(raw, dim), "fake-blake2b"
                else:
                    feat, label = payload_features(raw, dim)
                feats.append(feat.tolist())
                decoders.append(label)
            yield pd.DataFrame(
                {
                    "asset_id": b["asset_id"],
                    "kind": b["kind"],
                    "feat": feats,
                    "feat_dim": dim,
                    "decoder": decoders,
                }
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(run, FEATURES_SCHEMA)


RESIZED_SCHEMA = "asset_id long, payload binary, width int, height int"


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize of every payload ``decode_image``
    decodes (PPM/PNG/JPEG/GIF/VP8L-WebP, pure numpy index selection),
    Arrow-batched. Non-image rows pass through with a null payload — at
    scale this is the normalize-before-encode stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for payload in b["payload"]:
                raw = bytes(payload) if payload is not None else b""
                try:
                    img = decode_image(raw)
                except (ValueError, struct.error, NotImplementedError):
                    img = None  # non-image or malformed → null row, not a task abort
                if img is not None:
                    h, w = img.shape[:2]
                    yi = (np.arange(height) * h // height).clip(0, h - 1)
                    xi = (np.arange(width) * w // width).clip(0, w - 1)
                    payloads.append(encode_ppm(img[yi][:, xi]))
                else:
                    payloads.append(None)
            yield pd.DataFrame(
                {
                    "asset_id": b["asset_id"],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, RESIZED_SCHEMA)


def frame_sample_plan(assets: DataFrame, fps: float = 1.0) -> DataFrame:
    """Video frame-sampling *plan*: one row per (asset, frame_ts) —
    pure column algebra (sequence+explode); extract_frame_features is
    the decode stage it feeds. Shows the scale shape: a 2-hour video at
    1 fps fans out to 7200 rows before the decoder stage."""
    return (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest((F.col("duration_s") * fps).cast("int") - 1, F.lit(0)),
                )
            ).alias("frame_idx"),
        )
        .withColumn("frame_ts_s", F.col("frame_idx") / fps)
    )


FRAME_FEATURES_SCHEMA = (
    "asset_id long, frame_idx int, n_frames int, fps int, frame_sig string"
)


def extract_frame_features(
    assets: DataFrame, every: int = 2, dim: int = 8
) -> DataFrame:
    """REAL per-frame video features: decode each MJPEG-AVI container
    once, emit one row per sampled frame (every ``every``-th) with the
    canonical signature of its mean-pooled pixel features — the stage
    frame_sample_plan fans out into.

    Scale shape: the container decode amortizes across its frames
    inside one Arrow batch (never re-decoding the video per frame row,
    which a plan-side explode-then-decode would do); undecodable or
    non-AVI payloads contribute zero rows (O23 per-row discipline)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, idxs, totals, fpss, sigs = [], [], [], [], []
            for asset_id, payload in zip(b["asset_id"], b["payload"]):
                if payload is None:
                    continue
                raw = bytes(payload)
                try:
                    if raw[:6] in (b"GIF87a", b"GIF89a"):
                        frames, fps = decode_gif_frames(raw), 0
                    else:
                        frames, fps = decode_avi_mjpeg(raw)
                except (ValueError, NotImplementedError):
                    continue
                for idx in range(0, len(frames), every):
                    ids.append(asset_id)
                    idxs.append(idx)
                    totals.append(len(frames))
                    fpss.append(fps)
                    sigs.append(
                        feature_signature(_mean_pool_features(frames[idx], dim))
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frames": pd.Series(totals, dtype="int32"),
                    "fps": pd.Series(fpss, dtype="int32"),
                    "frame_sig": pd.Series(sigs, dtype="object"),
                }
            )

    return (
        assets.filter(F.col("kind") == "video")
        .select("asset_id", "payload")
        .mapInPandas(run, FRAME_FEATURES_SCHEMA)
    )
