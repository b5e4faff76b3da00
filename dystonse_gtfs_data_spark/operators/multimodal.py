"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched mapInPandas stages.

The container ships no media libraries, so the *decode kernels* are
pluggable and the defaults are deterministic fakes (clearly marked);
the Spark-side plumbing — schemas, batch iteration, partition sizing,
UDF signatures — is real and tested.  Swap `fake_*` for Pillow /
torchaudio / pyav kernels in production; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

IMAGE_TABLE = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", IMAGE_META, True),
    ]
)


def fake_image_decode(blob: bytes) -> np.ndarray:
    """FAKE decode: derives a deterministic 8×8×3 uint8 array from the
    bytes (no image library in this container).  Production: replace
    with Pillow/cv2 — same signature, same pipeline."""
    h = np.frombuffer(blob[:192].ljust(192, b"\0"), dtype=np.uint8)
    return h.reshape(8, 8, 3)


def decode_and_featurize_images(
    assets: DataFrame,
    decode: Callable[[bytes], np.ndarray] = fake_image_decode,
    resize_to: tuple[int, int] = (4, 4),
) -> DataFrame:
    """binary content → decoded pixel stats + a resized thumbnail
    embedding, one Arrow batch at a time.  Output schema is fixed, so
    swapping the kernel never changes the plan."""

    out_schema = (
        "asset_id long, width int, height int, mean_intensity double, "
        "thumbnail array<float>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, blob in zip(pdf["asset_id"], pdf["content"]):
                if blob is None:
                    continue
                img = decode(bytes(blob))
                hh, ww = img.shape[0], img.shape[1]
                # nearest-neighbor resize without any media lib
                ys = np.linspace(0, hh - 1, resize_to[0]).astype(int)
                xs = np.linspace(0, ww - 1, resize_to[1]).astype(int)
                thumb = img[np.ix_(ys, xs)].astype(np.float32) / 255.0
                rows.append(
                    {
                        "asset_id": asset_id,
                        "width": ww,
                        "height": hh,
                        "mean_intensity": float(img.mean()),
                        "thumbnail": thumb.ravel().tolist(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return assets.mapInPandas(run, out_schema)


def fake_audio_frames(blob: bytes, frame_ms: int = 20) -> np.ndarray:
    """FAKE audio decode → float32 mono frames (deterministic)."""
    raw = np.frombuffer(blob.ljust(320, b"\0"), dtype=np.uint8).astype(np.float32)
    n = (len(raw) // 160) * 160
    return raw[:n].reshape(-1, 160) / 255.0


def sample_audio_features(
    assets: DataFrame,
    decode: Callable[[bytes], np.ndarray] = fake_audio_frames,
) -> DataFrame:
    """binary audio → per-asset frame count + RMS energy profile."""
    out_schema = "asset_id long, n_frames int, rms array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, blob in zip(pdf["asset_id"], pdf["content"]):
                if blob is None:
                    continue
                frames = decode(bytes(blob))
                rms = np.sqrt((frames**2).mean(axis=1))
                rows.append(
                    {
                        "asset_id": asset_id,
                        "n_frames": int(frames.shape[0]),
                        "rms": rms.astype(np.float32).tolist(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return assets.mapInPandas(run, out_schema)


def video_decode_stub(blob: bytes):  # pragma: no cover - explicit stub
    """Video frame decoding needs pyav/ffmpeg — not in this container."""
    raise NotImplementedError(
        "video decode requires pyav/ffmpeg; install and pass a kernel with "
        "signature bytes -> ndarray[frames, h, w, c]"
    )


# ---------------------------------------------------------------------------
# REAL decode kernels.  The pluggable seam's production side: a
# dependency-free PNG decoder (PNG spec is public; zlib + the five
# standard scanline filters), a stdlib WAV decoder, and Pillow/pyav
# kernels that activate when those libraries are installed.  The fakes
# above stay the DEFAULTS so oracle runs are deterministic everywhere;
# swap in these kernels via the ``decode=`` parameter — nothing else in
# the pipeline changes (same signatures, same output schemas).
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def png_image_decode(blob: bytes) -> np.ndarray:
    """REAL image decode for PNG (stdlib zlib, no media library):
    8-bit grayscale / gray+alpha / RGB / RGBA, non-interlaced, all five
    scanline filters.  Returns H×W×C uint8."""
    import struct
    import zlib

    if blob[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (use pillow_image_decode for other formats)")
    pos, idat, width, height, color, depth = 8, b"", 0, 0, 0, 0
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if typ == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if depth != 8:
                raise ValueError(f"only 8-bit PNGs supported (depth={depth})")
            if interlace:
                raise ValueError("interlaced PNGs not supported")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")
    scan = zlib.decompress(idat)
    stride = width * channels
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    for y in range(height):
        row = scan[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
        if ftype == 0:  # None
            pass
        elif ftype == 2:  # Up
            line += prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            line = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = pv[x]
                if ftype == 1:
                    line[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    line[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth predictor (PNG spec 9.4)
                    c = pv[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (line[x] + pred) & 0xFF
            line = line.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(height, width, channels)


def pillow_image_decode(blob: bytes) -> np.ndarray:
    """REAL image decode via Pillow (JPEG/PNG/WebP/...), when installed."""
    import io

    from PIL import Image  # gated: raises ImportError when absent

    with Image.open(io.BytesIO(blob)) as img:
        return np.asarray(img.convert("RGB"))


def best_image_decode() -> Callable[[bytes], np.ndarray]:
    """Pillow when importable (all formats), else the stdlib PNG path."""
    try:
        import PIL  # noqa: F401

        return pillow_image_decode
    except ImportError:
        return png_image_decode


def wav_audio_decode(blob: bytes, frame_samples: int = 160) -> np.ndarray:
    """REAL audio decode for WAV/PCM via the stdlib ``wave`` module:
    16-bit PCM (mono or multi-channel, averaged to mono) → float32
    frames of ``frame_samples`` samples in [-1, 1] — same output
    contract as :func:`fake_audio_frames`."""
    import io
    import wave

    with wave.open(io.BytesIO(blob), "rb") as w:
        nch, sw, _rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    if sw != 2:
        raise ValueError(f"only 16-bit PCM WAV supported (sampwidth={sw})")
    pcm = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    if nch > 1:
        pcm = pcm.reshape(-1, nch).mean(axis=1)
    n = (len(pcm) // frame_samples) * frame_samples
    if n == 0:
        return np.zeros((0, frame_samples), dtype=np.float32)
    return pcm[:n].reshape(-1, frame_samples)


def pyav_video_decode(blob: bytes, max_frames: int = 64) -> np.ndarray:
    """REAL video decode via pyav/ffmpeg, when installed: first
    ``max_frames`` frames as ndarray[frames, h, w, 3] uint8."""
    import io

    import av  # gated: raises ImportError when absent

    frames = []
    with av.open(io.BytesIO(blob)) as container:
        for frame in container.decode(video=0):
            frames.append(frame.to_ndarray(format="rgb24"))
            if len(frames) >= max_frames:
                break
    if not frames:
        raise ValueError("no decodable video frames")
    return np.stack(frames)


def best_video_decode() -> Callable[[bytes], np.ndarray]:
    """pyav when importable; otherwise the explicit stub (fail loud —
    there is no dependency-free video codec)."""
    try:
        import av  # noqa: F401

        return pyav_video_decode
    except ImportError:
        return video_decode_stub


def fake_video_decode(blob: bytes) -> np.ndarray:
    """FAKE video decode: every 192-byte block of the blob is one 8×8×3
    uint8 frame (same layout as :func:`fake_image_decode`).  Production:
    replace with a pyav kernel — same signature, same pipeline."""
    n_frames = max(1, len(blob) // 192)
    raw = np.frombuffer(
        blob[: n_frames * 192].ljust(n_frames * 192, b"\0"), dtype=np.uint8
    )
    return raw.reshape(n_frames, 8, 8, 3)


def sample_video_frames(
    assets: DataFrame,
    decode: Callable[[bytes], np.ndarray] = fake_video_decode,
    stride: int = 2,
) -> DataFrame:
    """binary video → frame-sampled per-frame stats: every ``stride``-th
    frame's index and mean intensity, plus the clip's frame count.  The
    decode kernel is pluggable (pyav in production); the Spark shape —
    Arrow batches in, one output row per SAMPLED frame — is the real
    100 TB plumbing (frame sampling before any expensive model stage)."""
    out_schema = (
        "asset_id long, n_frames int, frame_idx int, mean_intensity double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, blob in zip(pdf["asset_id"], pdf["content"]):
                if blob is None:
                    continue
                frames = decode(bytes(blob))
                nf = int(frames.shape[0])
                for idx in range(0, nf, stride):
                    rows.append(
                        {
                            "asset_id": asset_id,
                            "n_frames": nf,
                            "frame_idx": idx,
                            "mean_intensity": float(frames[idx].mean()),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return assets.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Synthetic assets: deterministic blobs for driver-gated correctness
# ---------------------------------------------------------------------------
#
# The fake decode kernels are pure byte math, so their outputs are
# recomputable by an independent SQL oracle IF the blob bytes themselves
# come from a closed-form formula.  These builders construct such blobs
# JVM-side (sequence → transform → hex → unhex: no Python in the plan),
# one per documents row, so the whole decode path — blob construction,
# Arrow batch transfer, mapInPandas kernel — is exercised under the
# driver's value-hash gate.


def synthetic_image_assets(documents: DataFrame, n_bytes: int = 192) -> DataFrame:
    """One 192-byte blob per doc_id with byte[i] = (doc_id*31 + i*7) % 256
    — exactly the 8×8×3 frame `fake_image_decode` consumes."""
    from .dedup import _spread

    documents = _spread(documents)
    blob = F.unhex(
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bytes - 1)),
                lambda i: F.lpad(
                    F.hex((F.col("doc_id") * 31 + i * 7) % 256), 2, "0"
                ),
            ),
        )
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        blob.alias("content"),
        F.struct(
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


def synthetic_video_assets(documents: DataFrame, n_frames: int = 4) -> DataFrame:
    """One ``n_frames``-frame blob per doc_id using the image byte
    formula over the concatenated frames — what `fake_video_decode`
    splits back into 8×8×3 frames."""
    return synthetic_image_assets(documents, n_bytes=192 * n_frames).select(
        "asset_id", "content"
    )


def synthetic_audio_assets(documents: DataFrame, n_bytes: int = 320) -> DataFrame:
    """One 320-byte blob per doc_id with byte[i] ∈ {0, 255} by
    (doc_id*7 + i*13) % 3 == 0.  Restricting bytes to {0, 255} makes the
    float32 frame values exactly {0.0, 1.0}, so frame RMS is
    sqrt(k/160) for an integer k — reproducible bit-for-bit by a SQL
    oracle (quantization validated exhaustively for k ∈ [0, 160] in
    tests)."""
    from .dedup import _spread

    documents = _spread(documents)
    blob = F.unhex(
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bytes - 1)),
                lambda i: F.when(
                    ((F.col("doc_id") * 7 + i * 13) % 3) == 0, F.lit("ff")
                ).otherwise(F.lit("00")),
            ),
        )
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"), blob.alias("content")
    )


def image_average_hash(assets: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per image, Arrow batch at a time:
    decode → per-pixel grayscale sum (R+G+B, integer) → bit p set iff
    ``gray_sum[p] * n_pixels > total_sum`` — the comparison stays in
    exact integer arithmetic, so any SQL engine recomputes the identical
    hash from the same bytes (no float mean to drift).  The 64 bits ship
    as two int32-range halves (``phash_hi``/``phash_lo``) because a bit
    in position 63 would overflow signed int64 differently per engine.

    This is the image analog of text fingerprint dedup: identical or
    perceptually-identical frames collide, and the downstream groupBy is
    an ordinary fixed-width aggregation.  The decode here reads the
    deterministic fake blob layout (8×8×3 interleaved); swap the byte
    slicing for a real decoder kernel in production."""

    out_schema = "asset_id long, phash_hi long, phash_lo long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, blob in zip(pdf["asset_id"], pdf["content"]):
                if blob is None:
                    continue
                b = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.int64)
                gs = b.reshape(-1, 3).sum(axis=1)  # per-pixel R+G+B
                bits = (gs * len(gs) > gs.sum()).astype(np.int64)
                lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
                hi = int((bits[32:] << np.arange(len(bits) - 32, dtype=np.int64)).sum())
                rows.append(
                    {"asset_id": asset_id, "phash_hi": hi, "phash_lo": lo}
                )
            if rows:
                yield pd.DataFrame(rows)

    return assets.mapInPandas(run, out_schema)


def image_phash_dup_groups(assets: DataFrame) -> DataFrame:
    """Hash-collision dup groups: one shuffle on the 64-bit hash, then a
    window count — every asset in a group of ≥2 comes back with its
    group size (the image-side twin of fingerprint_dedup)."""
    from pyspark.sql import Window

    hashed = image_average_hash(assets)
    w = Window.partitionBy("phash_hi", "phash_lo")
    return (
        hashed.withColumn("group_size", F.count("*").over(w))
        .filter(F.col("group_size") > 1)
        .select("phash_hi", "phash_lo", "asset_id", "group_size")
    )
