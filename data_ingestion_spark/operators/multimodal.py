"""Multimodal (binary) column operators.

Images/audio/video ride through the engine as opaque ``binary`` columns with
typed metadata — the public Spark pattern: ``spark.read.format("binaryFile")``
yields (path, modificationTime, length, content) with lazy per-file loading
and predicate pushdown on the metadata columns.

What's REAL here (and tested): the Spark plumbing — binary ingestion, format
sniffing from magic bytes (pure byte expressions), container metadata parses
(PNG/WAV header fields via stdlib struct), batch shapes, schemas, the
mapInPandas decode pipeline, AND pure-stdlib codecs: PNG (png_decode /
png_encode / resize_nearest: 8-bit gray/RGB/RGBA, all 5 filter types),
baseline JPEG (jpeg_codec.jpeg_decode: T.81 SOF0), 16-bit PCM WAV
(wav_decode / wav_encode / audio_features), and DCT perceptual hashing
(phash64 / image_phash / phash_hamming_pairs) — image pixel and audio
waveform work runs for real with no external libraries. What's STUBBED
(clearly, by raising NotImplementedError or ValueError): progressive/
arithmetic JPEG, MP3/MP4, video. ``decoder=`` injection keeps those paths
testable with deterministic fakes and lets a real decoder (Pillow,
soundfile, ffmpeg) drop in unchanged on a production cluster.
"""

from __future__ import annotations

import struct
from typing import Any, Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cut
from .dedup import band_keys, hamming_verify
from .jpeg_codec import jpeg_decode, jpeg_metadata

#: magic-byte prefixes → format label (public file-signature table)
_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"RIFF", "riff"),  # refined to wav/avi below
    (b"ID3", "mp3"),
    (b"\x00\x00\x00", "mp4_maybe"),  # ftyp box check below
    (b"%PDF", "pdf"),
]


def read_binary(spark: SparkSession, path: str, glob: Optional[str] = None) -> DataFrame:
    """Ingest binary files: (path, modificationTime, length, content).

    At scale: binaryFile is lazy per file and prunes on metadata predicates
    (e.g. ``length < 100MB``) before any content is read.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def sniff_format(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Add a ``format`` column from magic bytes — pure JVM byte expressions
    (substring on binary + equality), no UDF, fuses into the scan."""
    c = F.col(content_col)

    def prefix_is(sig: bytes) -> F.Column:
        return F.expr(
            f"substring({content_col}, 1, {len(sig)})"
        ) == F.lit(bytearray(sig))

    fmt = F.lit("unknown")
    # build from lowest to highest priority; RIFF/MP4 get refinements
    fmt = F.when(prefix_is(b"%PDF"), "pdf").otherwise(fmt)
    fmt = F.when(
        (F.expr(f"substring({content_col}, 5, 4)") == F.lit(bytearray(b"ftyp"))),
        "mp4",
    ).otherwise(fmt)
    fmt = F.when(prefix_is(b"ID3"), "mp3").otherwise(fmt)
    fmt = F.when(
        prefix_is(b"RIFF")
        & (F.expr(f"substring({content_col}, 9, 4)") == F.lit(bytearray(b"WAVE"))),
        "wav",
    ).otherwise(fmt)
    fmt = F.when(prefix_is(b"GIF87a") | prefix_is(b"GIF89a"), "gif").otherwise(fmt)
    fmt = F.when(prefix_is(b"\xff\xd8\xff"), "jpeg").otherwise(fmt)
    fmt = F.when(prefix_is(b"\x89PNG\r\n\x1a\n"), "png").otherwise(fmt)
    return df.withColumn("format", fmt)


def png_metadata(data: bytes) -> Optional[dict[str, int]]:
    """Parse PNG IHDR (public spec): width/height/bit_depth — stdlib only."""
    if len(data) < 33 or data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", data[16:24])
    return {"width": w, "height": h, "bit_depth": data[24]}


def wav_metadata(data: bytes) -> Optional[dict[str, int]]:
    """Parse WAV fmt chunk (public RIFF spec): channels/sample_rate/bits."""
    if len(data) < 36 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    if data[12:16] != b"fmt ":
        return None
    channels, sample_rate = struct.unpack("<HI", data[22:28])
    bits = struct.unpack("<H", data[34:36])[0]
    return {"channels": channels, "sample_rate": sample_rate, "bits": bits}


_META_SCHEMA = (
    "path string, format string, width int, height int, channels int, "
    "sample_rate int"
)


def extract_metadata(df: DataFrame) -> DataFrame:
    """Typed per-file metadata via mapInPandas (Arrow batches of whole files).

    Partitioning note: binaryFile packs many small files per task; huge files
    arrive one per task — either way each batch stays bounded by
    maxPartitionBytes, so executor memory is safe at any corpus size.
    """

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                png = png_metadata(data)
                wav = wav_metadata(data)
                jpg = None if (png or wav) else jpeg_metadata(data)
                fmt = (
                    "png" if png
                    else ("wav" if wav else ("jpeg" if jpg else "unknown"))
                )
                img = png or jpg
                rows.append(
                    {
                        "path": path,
                        "format": fmt,
                        "width": img["width"] if img else None,
                        "height": img["height"] if img else None,
                        "channels": wav["channels"] if wav else None,
                        "sample_rate": wav["sample_rate"] if wav else None,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "format", "width", "height", "channels", "sample_rate",
                ],
            )

    return df.select("path", "content").mapInPandas(_extract, schema=_META_SCHEMA)


# --------------------------------------------------------------------------
# Decode pipeline: real plumbing, stubbed codec.
# --------------------------------------------------------------------------
Decoder = Callable[[bytes], Any]


def _no_decoder(data: bytes) -> Any:
    raise NotImplementedError(
        "No media decoder available in this environment. Inject decoder= "
        "(e.g. PIL.Image.open / soundfile.read) on a cluster with codecs."
    )


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    decoder: Decoder = _no_decoder,
    encoder: Callable[[Any, int, int], bytes] | None = None,
) -> DataFrame:
    """Decode → resize → re-encode over binary image content, Arrow-batched.

    ``decoder``/``encoder`` are injected (PIL.Image.open / img.resize().save
    on a real cluster; deterministic fakes in tests — this container ships
    no codecs). The Spark contract — schema ``(path, content, width,
    height)``, per-partition batching, binary pass-through — is identical
    either way.
    """

    def _enc(decoded: Any, w: int, h: int) -> bytes:
        if encoder is None:
            raise NotImplementedError(
                "No image encoder available; inject encoder= on a cluster "
                "with codecs (e.g. PIL resize + save-to-bytes)."
            )
        return encoder(decoded, w, h)

    schema = "path string, content binary, width int, height int"

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                resized = _enc(decoder(bytes(content)), width, height)
                out_rows.append(
                    {"path": path, "content": resized, "width": width, "height": height}
                )
            yield pd.DataFrame(
                out_rows, columns=["path", "content", "width", "height"]
            )

    return df.select("path", "content").mapInPandas(_run, schema=schema)


def sample_frames(
    df: DataFrame,
    every_n: int,
    decoder: Callable[[bytes], Iterator[Any]] = _no_decoder,
    frame_encoder: Callable[[Any], bytes] | None = None,
) -> DataFrame:
    """Video/audio frame sampling: one output row per kept frame
    (every ``every_n``-th), exploding each container into
    ``(path, frame_index, frame)`` — the UDTF-shaped mapInPandas pattern
    (input rows ≠ output rows). ``decoder`` yields frames (ffmpeg/PyAV on a
    real cluster; deterministic fake in tests)."""

    schema = "path string, frame_index int, frame binary"

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for i, frame in enumerate(decoder(bytes(content))):
                    if i % every_n == 0:
                        blob = (
                            frame_encoder(frame)
                            if frame_encoder is not None
                            else bytes(frame)
                        )
                        rows.append(
                            {"path": path, "frame_index": i, "frame": blob}
                        )
            yield pd.DataFrame(rows, columns=["path", "frame_index", "frame"])

    return df.select("path", "content").mapInPandas(_run, schema=schema)


def decode_features(
    df: DataFrame,
    feature_fn: Callable[[Any], list[float]],
    decoder: Decoder = _no_decoder,
    dim: int = 8,
) -> DataFrame:
    """Decode → feature-extract over binary content, Arrow-batched.

    The Spark-side contract (schema ``path, features array<float>``, batch
    iteration, partition behavior) is identical whether ``decoder`` is a real
    codec or the deterministic test fake — that's the point: swap-in, no
    pipeline change.
    """
    schema = "path string, features array<float>"

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            paths, feats = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                decoded = decoder(bytes(content))
                vec = [float(x) for x in feature_fn(decoded)][:dim]
                vec += [0.0] * (dim - len(vec))
                paths.append(path)
                feats.append(vec)
            yield pd.DataFrame({"path": paths, "features": feats})

    return df.select("path", "content").mapInPandas(_run, schema=schema)


# ---------------------------------------------------------------------------
# Pure-stdlib PNG codec (public spec, RFC 2083): real pixel decode for the
# most common tier — 8-bit grayscale/RGB/RGBA, non-interlaced, all 5 filter
# types. zlib + struct + numpy only, so the container's lack of Pillow no
# longer gates PNG work; other containers (JPEG etc.) still require an
# injected decoder.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color_type -> samples/pixel


def png_decode(data: bytes):
    """Decode a PNG to a (H, W, C) uint8 numpy array.

    Supports bit depth 8, color types 0/2/4/6, interlace 0 (the output of
    virtually every standard encoder, including png_encode below). Raises
    ValueError on anything else — callers fall back to an injected decoder.
    """
    import zlib

    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, channels, idat = 8, None, None, None, []
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={interlace}) — inject a full decoder"
                )
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + CRC
    if width is None or not idat:
        raise ValueError("malformed PNG (missing IHDR/IDAT)")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    # Unfiltering, numpy-vectorized (uint8 wraparound == mod-256 spec
    # arithmetic). Sub is a per-channel prefix sum over the row; Up is a
    # whole-row add; Average/Paeth have a true left-neighbor dependency,
    # so they loop over WIDTH but process all channels per step as int32
    # vectors (C× fewer Python iterations, and no uint8 scalar overflow).
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).copy()
        if ftype == 1:  # Sub: out[x] = raw[x] + out[x-c]  ==  lane cumsum
            lanes = row.reshape(width, channels).astype(np.uint64)
            row = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            row = (row.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            r = row.reshape(width, channels).astype(np.int32)
            up = prev.reshape(width, channels).astype(np.int32)
            left = np.zeros(channels, dtype=np.int32)
            for x in range(width):
                left = (r[x] + ((left + up[x]) >> 1)) & 0xFF
                r[x] = left
            row = r.astype(np.uint8).reshape(stride)
        elif ftype == 4:  # Paeth
            r = row.reshape(width, channels).astype(np.int32)
            up = prev.reshape(width, channels).astype(np.int32)
            left = np.zeros(channels, dtype=np.int32)
            ul = np.zeros(channels, dtype=np.int32)
            for x in range(width):
                p = left + up[x] - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - up[x]), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up[x], ul)
                )
                left = (r[x] + pred) & 0xFF
                r[x] = left
                ul = up[x]
            row = r.astype(np.uint8).reshape(stride)
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = out[y]
    return out.reshape(height, width, channels)


def png_encode(arr) -> bytes:
    """Encode a (H, W, C) uint8 array as a non-interlaced filter-0 PNG."""
    import zlib

    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scanlines = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resize of a (H, W, C) array — the deterministic
    stdlib-tier resampler (inject a Pillow/cv2 resizer for quality)."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return arr[ys][:, xs]


# ---------------------------------------------------------------------------
# Pure-stdlib WAV PCM codec (RIFF spec): the audio analog of the PNG codec
# above — decode/encode 16-bit PCM with no external libraries, so waveform
# work (feature extraction, decimation resampling) runs for real in-container.
# ---------------------------------------------------------------------------
def wav_decode(data: bytes):
    """Decode a 16-bit PCM WAV to ((n_samples, channels) int16 array,
    sample_rate). Walks RIFF chunks properly (handles extra chunks like
    LIST before data). Raises ValueError on non-PCM or non-16-bit audio —
    callers fall back to an injected decoder."""
    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, fmt, frames = 12, None, None
    while pos + 8 <= len(data):
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (fmt={audio_fmt}, bits={bits}) — "
                    "inject a full decoder"
                )
            fmt = (channels, rate)
        elif ctype == b"data":
            frames = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or frames is None:
        raise ValueError("malformed WAV (missing fmt/data)")
    channels, rate = fmt
    arr = np.frombuffer(frames[: len(frames) - (len(frames) % (2 * channels))], dtype="<i2")
    return arr.reshape(-1, channels), rate


def wav_encode(samples, sample_rate: int) -> bytes:
    """Encode an (n, channels) int16 array as a 16-bit PCM WAV."""
    import numpy as np

    a = np.ascontiguousarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    channels = a.shape[1]
    frames = a.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    size = 4 + (8 + len(fmt)) + (8 + len(frames))
    return (
        b"RIFF"
        + struct.pack("<I", size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(frames))
        + frames
    )


def wav_resample_decimate(samples, factor: int):
    """Naive every-Nth decimation (no anti-alias filter — the deterministic
    stdlib tier; inject scipy.signal.resample for production quality)."""
    return samples[::factor]


def audio_features(df: DataFrame) -> DataFrame:
    """Per-file waveform features over WAV binary content via mapInPandas:
    duration, peak amplitude, RMS energy, zero-crossing count — the audio
    quality-filter metrics of a multimodal corpus pipeline. Non-decodable
    files yield nulls rather than failing the batch (corpus scans must
    tolerate junk)."""
    import numpy as np

    schema = (
        "path string, n_samples bigint, sample_rate int, duration_ms bigint, "
        "peak int, rms double, zero_crossings bigint"
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    arr, rate = wav_decode(bytes(content))
                    mono = arr.astype(np.float64).mean(axis=1)
                    rows.append(
                        {
                            "path": path,
                            "n_samples": arr.shape[0],
                            "sample_rate": rate,
                            "duration_ms": arr.shape[0] * 1000 // rate,
                            "peak": int(np.abs(arr).max()) if arr.size else 0,
                            "rms": float(np.sqrt((mono**2).mean())) if arr.size else 0.0,
                            "zero_crossings": int(
                                np.count_nonzero(np.diff(np.signbit(mono)))
                            ),
                        }
                    )
                # struct.error: a truncated/lying fmt chunk length makes
                # wav_decode's struct.unpack read short — junk files must
                # yield nulls, never fail the whole Arrow batch
                except (ValueError, struct.error):
                    rows.append(
                        {
                            "path": path,
                            "n_samples": None,
                            "sample_rate": None,
                            "duration_ms": None,
                            "peak": None,
                            "rms": None,
                            "zero_crossings": None,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "n_samples",
                    "sample_rate",
                    "duration_ms",
                    "peak",
                    "rms",
                    "zero_crossings",
                ],
            )

    return df.select("path", "content").mapInPandas(_run, schema)


def image_decode(data: bytes):
    """Container-dispatching image decode for the in-container tier:
    PNG (png_decode) and baseline JPEG (jpeg_codec.jpeg_decode), both
    returning (H, W, C) uint8. Other containers raise ValueError — the
    injectable ``decoder=`` seam still takes a full library for those."""
    import numpy as np

    if data[:8] == _PNG_SIG:
        return png_decode(data)
    if data[:3] == b"\xff\xd8\xff":
        _w, _h, arr = jpeg_decode(data)
        return arr if arr.ndim == 3 else arr[:, :, np.newaxis]
    raise ValueError("unsupported image container — inject a decoder")


# ---------------------------------------------------------------------------
# Perceptual image hashing (pHash) + banded-Hamming near-dup pairs — the
# IMAGE arm of the dedup ladder: exact/minhash/simhash cover text, this
# covers decoded pixels (re-encoded, resized, or slightly-edited copies of
# the same image land within a few bits of each other).
# ---------------------------------------------------------------------------
_PHASH_N = 32  # resize target; DCT runs on the 32x32 grayscale


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (the JPEG transform, float64)."""
    import numpy as np

    m = np.zeros((n, n), dtype=np.float64)
    for k in range(n):
        c = np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n)
        for x in range(n):
            m[k, x] = c * np.cos((2 * x + 1) * k * np.pi / (2 * n))
    return m


_DCT32 = None  # built lazily per process (executors import this module fresh)


def phash64(arr) -> int:
    """64-bit perceptual hash of a decoded (H, W[, C]) uint8 image:
    ITU-R 601 grayscale → nearest-neighbor 32×32 → 2-D DCT-II → top-left
    8×8 low-frequency block → bit i = (coef_i > median). All float64 with
    fixed op order — deterministic across runs/hosts. Returned as a SIGNED
    64-bit int (Spark LongType): bit 63 set ⇒ negative, by design."""
    import numpy as np

    global _DCT32
    if _DCT32 is None:
        _DCT32 = _dct_matrix(_PHASH_N)
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        if a.shape[2] >= 3:
            a = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
        else:
            a = a[:, :, 0]
    g = resize_nearest(a, _PHASH_N, _PHASH_N)
    d = _DCT32 @ g @ _DCT32.T
    block = d[:8, :8].flatten()
    med = float(np.median(block))
    val = 0
    for i in range(64):
        if block[i] > med:
            val |= 1 << i
    return val - (1 << 64) if val >= (1 << 63) else val


def image_phash(
    df: DataFrame,
    id_col: str,
    content_col: str = "content",
    decoder: Callable[[bytes], Any] = image_decode,
) -> DataFrame:
    """(id, phash) per image — Arrow mapInPandas over binary content, the
    decode tier injectable like every codec seam. Undecodable blobs yield
    NULL phash (junk-file null semantics, never a task failure)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("phash", LongType()),
        ]
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hs = [], []
            for id_val, blob in zip(pdf[id_col], pdf[content_col]):
                ids.append(id_val)
                try:
                    hs.append(phash64(decoder(bytes(blob))))
                except Exception:  # noqa: BLE001 — junk blob ⇒ NULL hash
                    hs.append(None)
            yield pd.DataFrame({"id": ids, "phash": pd.array(hs, dtype="Int64")})

    return df.select(id_col, content_col).mapInPandas(_run, schema)


def phash_hamming_pairs(
    sig_df: DataFrame,
    max_hamming: int = 10,
    band_bits: int = 16,
    sig_col: str = "phash",
) -> DataFrame:
    """Near-dup image pairs from 64-bit pHashes: band into 64/band_bits
    chunks (pigeonhole: hamming ≤ bands−1 guarantees ≥1 shared band — with
    4×16-bit bands that's a guarantee to distance 3 and a strong
    probabilistic net far beyond), join on band agreement, verify with an
    exact popcount ≤ max_hamming. Same scale shape as the SimHash text
    pairer (dedup.simhash_hamming_pairs): only (id, 8-byte key) rows
    shuffle, pairs bounded by band-bucket sizes, never all-pairs."""
    n_bands = 64 // band_bits
    # r14 (guide §4): the band self-join below references the signature
    # frame on BOTH sides, and the broadcast build side defeats exchange
    # reuse — so an expensive upstream (the synth→decode→DCT/FFT Arrow
    # pipelines of the image/audio dedup queries) re-ran once per side
    # (plan-measured: 4 Arrow stages). The signature table is (id, 8-byte
    # hash) — metadata-scale at any corpus size — so one EAGER
    # localCheckpoint runs the decode exactly once and both join sides
    # read the materialized rows.
    sig = cut(
        sig_df.filter(F.col(sig_col).isNotNull())
        .withColumnRenamed(sig_col, "__sig")
    )
    bands = band_keys(F.col("__sig"), n_bands, band_bits, F.shiftrightunsigned)
    exploded = sig.select("id", "__sig", F.explode(bands).alias("bk"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return hamming_verify(
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id"))),
        "__sig", max_hamming,
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting (Haitsma–Kalker delta-sign bits) — the AUDIO arm of
# the dedup ladder: re-encoded / gain-shifted / lightly-noised copies of the
# same recording land within a few bits; different recordings ~32 apart.
# ---------------------------------------------------------------------------
_AFP_FRAMES = 17  # 16 frame deltas × 4 bands = 64 bits
_AFP_BANDS = 4


def audio_fingerprint64(samples, sample_rate: int) -> int:
    """64-bit audio fingerprint of 16-bit PCM samples ((n, ch) int16):
    mono mixdown → 17 equal frames → per-frame FFT band energies (4 equal
    bands above DC) → bit[f·4+b] = (E[f+1,b] > E[f,b]) — the energy-delta
    sign bits of Haitsma & Kalker 2002. Gain changes scale all energies
    together, so the signs (and the fingerprint) are gain-invariant; small
    additive noise flips only near-zero deltas (measured: 0.9× gain +
    σ=30 int16 noise moves 3/64 bits; unrelated clips ~32). NOT resample-
    invariant (band edges are bin-relative; a 2× decimated copy measured
    22 bits away) — fingerprint at a canonical rate. Signed int64 like
    phash64; ``sample_rate`` accepted for decoder-API symmetry."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    if len(x) < _AFP_FRAMES * 2 * _AFP_BANDS:
        raise ValueError("audio too short to fingerprint")
    frame_len = len(x) // _AFP_FRAMES
    frames = x[: frame_len * _AFP_FRAMES].reshape(_AFP_FRAMES, frame_len)
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    spec = mag2[:, 1:]  # drop DC (gain-invariance of deltas doesn't need it)
    n_bins = spec.shape[1] - (spec.shape[1] % _AFP_BANDS)
    e = spec[:, :n_bins].reshape(_AFP_FRAMES, _AFP_BANDS, -1).sum(axis=2)
    val = 0
    for f in range(_AFP_FRAMES - 1):
        for b in range(_AFP_BANDS):
            if e[f + 1, b] > e[f, b]:
                val |= 1 << (f * _AFP_BANDS + b)
    return val - (1 << 64) if val >= (1 << 63) else val


def audio_fingerprints(
    df: DataFrame,
    id_col: str,
    content_col: str = "content",
    decoder: Callable[[bytes], Any] = None,
) -> DataFrame:
    """(id, afp) per audio blob — Arrow mapInPandas; default decoder is the
    stdlib WAV codec, injectable for other containers. Junk ⇒ NULL."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("afp", LongType()),
        ]
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hs = [], []
            for id_val, blob in zip(pdf[id_col], pdf[content_col]):
                ids.append(id_val)
                try:
                    if decoder is not None:
                        smp, sr = decoder(bytes(blob))
                    else:
                        smp, sr = wav_decode(bytes(blob))
                    hs.append(audio_fingerprint64(smp, sr))
                except Exception:  # noqa: BLE001 — junk blob ⇒ NULL
                    hs.append(None)
            yield pd.DataFrame({"id": ids, "afp": pd.array(hs, dtype="Int64")})

    return df.select(id_col, content_col).mapInPandas(_run, schema)
