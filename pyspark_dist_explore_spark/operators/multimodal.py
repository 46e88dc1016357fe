"""Multimodal column plumbing (SURVEY.md §2.2 X6).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing — schema, Arrow batch shape, ``mapInPandas``
UDF signatures, partition sizing — is real and tested, and the decode
paths are real too, via pure-stdlib codecs:

- **images**: 24-bit BMP (:func:`encode_bmp` / :func:`decode_bmp`) —
  ``resize_images`` runs an actual decode → numpy → nearest-neighbor
  resize pipeline;
- **video**: concatenated BMP frames (each BMP self-describes its byte
  length at offset 2, so :func:`split_bmp_frames` needs no container
  format) — ``sample_frames`` decodes every n-th frame;
- **audio**: PCM-16 mono WAV (:func:`encode_wav` / :func:`decode_wav`,
  RIFF chunk walker) — ``audio_features`` decodes, optionally
  decimates, and extracts duration/RMS/peak.

Swap the codec callables for PIL/cv2/ffmpeg/soundfile in production —
the distributed plan is unchanged.

100 TB notes: binary payloads never cross a shuffle here — features are
extracted map-side (``mapInPandas``) and only the small feature frame
aggregates.  ``spark.sql.files.maxPartitionBytes`` governs batch size;
Arrow moves the bytes to Python in columnar batches, never per-row.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# Pure-stdlib 24-bit BMP codec (BITMAPFILEHEADER + BITMAPINFOHEADER,
# BI_RGB uncompressed, bottom-up rows padded to 4 bytes — the classic
# Windows 3.x layout every viewer understands).
# --------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit BMP."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3  # rows padded to 4-byte multiples
    image_size = row_size * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + image_size, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    rows = bytearray()
    pad = b"\x00" * (row_size - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        # BMP stores BGR
        rows += pixels[y, :, ::-1].tobytes() + pad
    return header + info + bytes(rows)


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode the first 24-bit BMP in ``data`` to an (h, w, 3) RGB array.

    Trailing bytes after the BMP's self-declared file size are ignored,
    which is what makes concatenated-BMP "videos" splittable.
    """
    magic, _file_size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    header_size, w, h, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    if bpp != 24 or header_size < 40:
        raise ValueError(f"unsupported BMP variant (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        start = offset + i * row_size
        row = np.frombuffer(data, dtype=np.uint8, count=w * 3, offset=start).reshape(w, 3)
        y = h - 1 - i if bottom_up else i
        out[y] = row[:, ::-1]  # BGR → RGB
    return out


def split_bmp_frames(data: bytes) -> list[bytes]:
    """Split concatenated BMPs using each frame's declared byte length."""
    frames, pos = [], 0
    view = memoryview(data)
    while pos + 14 <= len(data):
        magic, file_size = struct.unpack_from("<2sI", data, pos)
        if magic != b"BM" or file_size <= 0:
            raise ValueError(f"corrupt frame boundary at byte {pos}")
        if pos + file_size > len(data):
            # slicing would silently clamp and return a corrupt final frame
            raise ValueError(
                f"truncated frame at byte {pos}: declares {file_size} bytes, "
                f"{len(data) - pos} remain"
            )
        frames.append(bytes(view[pos : pos + file_size]))
        pos += file_size
    return frames


# --------------------------------------------------------------------------
# Pure-stdlib PCM-16 mono WAV codec (RIFF/WAVE, fmt + data chunks) —
# the audio counterpart of the BMP codec above.
# --------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode int16 mono samples as a PCM WAV file."""
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
    data_hdr = struct.pack("<4sI", b"data", len(pcm))
    riff = struct.pack("<4sI4s", b"RIFF", 4 + 8 + 16 + 8 + len(pcm), b"WAVE")
    return riff + b"fmt " + fmt + data_hdr + pcm


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM-16 mono WAV to (sample_rate, int16 samples).

    Walks the RIFF chunk list (tolerates extra chunks like LIST/fact);
    rejects non-PCM or multi-channel payloads.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", data, body)
            (bits,) = struct.unpack_from("<H", data, body + 14)
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (PCM-16 mono only)")
        elif cid == b"data":
            samples = np.frombuffer(data, dtype="<i2", count=size // 2, offset=body)
        pos = body + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def _doc_samples(doc_id: int, n_samples: int) -> np.ndarray:
    """Deterministic per-doc int16 tone: a doc-keyed frequency sweep —
    arithmetic only, any engine regenerates identical bytes."""
    t = np.arange(n_samples, dtype=np.float64)
    freq = 0.01 + (doc_id % 97) / 1000.0  # cycles per sample
    return (np.sin(2.0 * np.pi * freq * t) * 12000.0).astype(np.int16)


def _doc_pixels(doc_id: int, frame: int, width: int, height: int) -> np.ndarray:
    """Deterministic per-(doc, frame) test pattern — no RNG, any engine
    regenerates identical bytes."""
    y, x = np.mgrid[0:height, 0:width]
    base = (doc_id * 31 + frame * 17 + y * 7 + x * 3) % 256
    return np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=-1).astype(np.uint8)


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (numpy fancy indexing, vectorized)."""
    h, w, _ = pixels.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return pixels[ys][:, xs]

#: schema of the extracted feature frame
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("modality", StringType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Materialize an opaque binary column (+ typed metadata) from text.

    The testdata has no real media files, so the payload is the UTF-8
    encoding of the text column — the plumbing (binary type, metadata
    struct, partition behavior) is identical to a real media table.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload").cast(BinaryType()),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col(text_col)).cast("bigint").alias("size"),
        ).alias("meta"),
    )


def attach_image_payload(
    df: DataFrame,
    id_col: str,
    *,
    width: int = 16,
    height: int = 12,
    n_frames: int = 3,
) -> DataFrame:
    """Materialize a real decodable media column: ``n_frames`` concatenated
    24-bit BMPs per row, pixels a deterministic function of the id.

    Stands in for reading a media table at scale — payload bytes are
    born map-side (mapInPandas), typed metadata rides alongside, and
    nothing here shuffles.  ``n_frames=1`` gives plain images; >1 gives
    splittable "video clips" for :func:`sample_frames`.
    """
    base = df.select(F.col(id_col).alias("doc_id"))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                b"".join(
                    encode_bmp(_doc_pixels(int(d), f, width, height)) for f in range(n_frames)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": "image/bmp",
                    "size": [len(p) for p in payloads],
                    "width": width,
                    "height": height,
                    "n_frames": n_frames,
                }
            )

    gen = base.mapInPandas(
        _gen,
        schema="doc_id bigint, payload binary, mime string, size bigint, "
        "width int, height int, n_frames int",
    )
    return gen.select(
        "doc_id",
        "payload",
        F.struct("mime", "size", "width", "height", "n_frames").alias("meta"),
    )


def extract_features(
    binary_df: DataFrame,
    *,
    decode: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``decode`` receives raw bytes and returns a feature dict merged over
    the defaults; the default (None) computes deterministic metadata
    features only.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_hash": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                    "modality": "text",
                }
            )
            if decode is not None:
                extra = payloads.map(lambda b: decode(bytes(b)))
                for k in FEATURE_SCHEMA.fieldNames():
                    if k == "doc_id":  # identity column: decode can't override
                        continue
                    vals = extra.map(lambda d, k=k: d.get(k))
                    # merge per-ROW: rows whose decode dict lacks this key keep
                    # the default value instead of going NULL in a mixed batch
                    out[k] = vals.where(vals.notna(), out[k])
            yield out

    return binary_df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def attach_audio_payload(
    df: DataFrame,
    id_col: str,
    *,
    n_samples: int = 4000,
    sample_rate: int = 8000,
) -> DataFrame:
    """Materialize a real decodable audio column: one PCM-16 mono WAV per
    row, samples a deterministic function of the id (doc-keyed tone).
    Same map-side generation shape as :func:`attach_image_payload`."""
    base = df.select(F.col(id_col).alias("doc_id"))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(_doc_samples(int(d), n_samples), sample_rate)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": "audio/wav",
                    "size": [len(p) for p in payloads],
                    "sample_rate": sample_rate,
                    "n_samples": n_samples,
                }
            )

    gen = base.mapInPandas(
        _gen,
        schema="doc_id bigint, payload binary, mime string, size bigint, "
        "sample_rate int, n_samples int",
    )
    return gen.select(
        "doc_id",
        "payload",
        F.struct("mime", "size", "sample_rate", "n_samples").alias("meta"),
    )


#: (doc_id, sample_rate, n_samples, duration_s, rms, peak) — audio features
AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", LongType()),
    ]
)


def audio_features(
    binary_df: DataFrame,
    *,
    decoder: Callable[[bytes], tuple[int, np.ndarray]] = decode_wav,
    every_n: int = 1,
) -> DataFrame:
    """Map-side audio decode + feature extraction (duration, RMS, peak).

    ``every_n`` > 1 decimates (naive resample) before the features —
    the audio analogue of image resizing.  Arrow batches carry the
    payload bytes to Python once; only the tiny feature frame leaves
    the stage.  Swap ``decoder`` for a soundfile/ffmpeg-backed callable
    in a full environment.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "sample_rate": [], "n_samples": [],
                   "duration_s": [], "rms": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decoder(bytes(payload))
                n_orig = len(samples)
                step = max(every_n, 1)
                samples = samples[::step]
                x = samples.astype(np.float64)
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate // step or 1)
                out["n_samples"].append(len(samples))
                # duration from the PRE-decimation count and ORIGINAL rate:
                # ceil(n/step)*step/rate would overstate by up to
                # (step-1)/rate when step doesn't divide the sample count
                out["duration_s"].append(n_orig / rate)
                out["rms"].append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
                out["peak"].append(int(np.max(np.abs(samples))) if len(samples) else 0)
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(_extract, schema=AUDIO_SCHEMA)


# --------------------------------------------------------------------------
# Real file ingestion: the way a 100 TB media table actually arrives —
# files on storage, read distributed via Spark's binaryFile source.
# --------------------------------------------------------------------------


def write_media_fixture(
    dir_path: str,
    doc_ids: Iterator[int] | list[int],
    *,
    kind: str = "wav",
    n_samples: int = 4000,
    sample_rate: int = 8000,
    width: int = 16,
    height: int = 12,
) -> str:
    """Write deterministic per-doc media FILES (``{doc_id}.wav`` /
    ``{doc_id}.bmp``) for the binaryFile ingestion path — a test/demo
    fixture standing in for a real media bucket.  Idempotent on CONTENT:
    payloads are pure functions of ``(doc_id, kind, n_samples,
    sample_rate, width, height)``, and an existing file is kept only if
    its bytes match the expected payload — so changing a parameter
    rewrites stale files instead of silently serving old ones.
    Returns ``dir_path``.
    """
    import os

    os.makedirs(dir_path, exist_ok=True)
    for d in doc_ids:
        path = os.path.join(dir_path, f"{int(d)}.{kind}")
        if kind == "wav":
            payload = encode_wav(_doc_samples(int(d), n_samples), sample_rate)
        elif kind == "bmp":
            payload = encode_bmp(_doc_pixels(int(d), 0, width, height))
        else:
            raise ValueError(f"unsupported fixture kind {kind!r}")
        if os.path.exists(path) and os.path.getsize(path) == len(payload):
            with open(path, "rb") as f:
                if f.read() == payload:
                    continue
        # write-to-temp + rename, not open('wb'): a concurrent reader (a
        # binaryFile scan from a parallel run) must never see a torn file
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)
    return dir_path


def read_binary_media(
    spark, path: str, *, id_regex: str = r"(\d+)\.\w+$", strict: bool = False
) -> DataFrame:
    """Ingest media files via ``spark.read.format("binaryFile")`` into the
    engine's standard (doc_id, payload, meta) shape — the production
    entry point for :func:`audio_features` / :func:`resize_images` /
    :func:`sample_frames`.

    doc_id is parsed from the file name (``id_regex`` group 1).  Files
    whose names do NOT match are DROPPED by an explicit filter (they
    would otherwise surface as NULL doc_ids that silently vanish in
    downstream joins); pass ``strict=True`` to instead fail the job on
    the first unparseable name — the right default for a production
    bucket that is supposed to be uniformly keyed.

    The binaryFile source distributes whole files across partitions (one
    file = one row; ``spark.sql.files.maxPartitionBytes`` packs small
    files per task), filters on path/length push down, and payload bytes
    stay map-side exactly like the synthesized-payload path.
    """
    raw = spark.read.format("binaryFile").load(path)
    # try_cast, not cast: ANSI mode makes CAST('' AS BIGINT) throw a bare
    # NumberFormatException mid-job; NULL is the one signal both the
    # drop filter and the strict error share
    parsed = F.regexp_extract(F.col("path"), id_regex, 1).try_cast("bigint")
    if strict:
        # gate on the CAST result, not the regex alone: a custom id_regex
        # can match a non-numeric group, which must also fail loudly
        doc_id = F.when(parsed.isNotNull(), parsed).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "read_binary_media: file name does not match id_regex "
                        "(or its group 1 is not an integer): "
                    ),
                    F.col("path"),
                )
            ).cast("bigint")
        )
    else:
        doc_id = parsed
    out = raw.select(
        doc_id.alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.col("path").alias("uri"),
            F.col("length").cast("bigint").alias("size"),
        ).alias("meta"),
    )
    return out if strict else out.where(F.col("doc_id").isNotNull())


#: (doc_id, width, height, pixels_hash) — what a real image-resize emits
RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixels_hash", StringType()),
    ]
)

#: (doc_id, frame_idx, frame_hash) — what a real frame-sampler emits
FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_hash", StringType()),
    ]
)


def resize_images(
    binary_df: DataFrame,
    *,
    width: int = 224,
    height: int = 224,
    decoder: Callable[[bytes], np.ndarray] | None = None,
) -> DataFrame:
    """Map-side image decode + nearest-neighbor resize.

    ``decoder`` maps raw bytes to an (h, w, 3) uint8 array — pass
    :func:`decode_bmp` for the built-in pure-Python path, or any
    PIL/cv2-backed callable in a full environment.  ``pixels_hash`` is
    the md5 of the RESIZED RGB bytes, so downstream exact-dup detection
    on decoded content works out of the box.  With ``decoder=None`` a
    deterministic metadata-only fake runs (hash over raw payload bytes) —
    same schema and batch shape, for payloads with no decodable format.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is not None:
                hashes = pdf["payload"].map(
                    lambda b: hashlib.md5(
                        resize_nearest(decoder(bytes(b)), width, height).tobytes()
                    ).hexdigest()
                )
            else:
                hashes = pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b) + f"|{width}x{height}".encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "pixels_hash": hashes,
                }
            )

    return binary_df.mapInPandas(_resize, schema=RESIZE_SCHEMA)


def sample_frames(
    binary_df: DataFrame,
    *,
    every_n: int = 1,
    max_frames: int = 3,
    decoder: Callable[[bytes], np.ndarray] | None = decode_bmp,
    splitter: Callable[[bytes], list[bytes]] = split_bmp_frames,
) -> DataFrame:
    """Video frame sampling: split the clip, decode every ``every_n``-th
    frame (≤ ``max_frames``), one output row per sampled frame.

    The 1→N ``mapInPandas`` fan-out is exactly what an ffmpeg-backed
    sampler produces; here the container format is concatenated BMPs
    (self-length-described, see :func:`split_bmp_frames`).
    ``frame_hash`` is the md5 of the DECODED RGB bytes.  ``decoder=None``
    falls back to hashing the raw frame bytes.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = splitter(bytes(payload))[:: max(every_n, 1)][:max_frames]
                for i, frame in enumerate(frames):
                    content = decoder(frame).tobytes() if decoder is not None else frame
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i * max(every_n, 1))
                    out["frame_hash"].append(hashlib.md5(content).hexdigest())
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(_sample, schema=FRAMES_SCHEMA)


def dhash_pixels(pixels: np.ndarray, *, grid: int = 8) -> int:
    """X58 reference: difference hash (dHash) of an RGB array — PURE
    INTEGER arithmetic end to end, so the distributed operator and this
    single-machine reference are bit-identical by construction.

    1. grayscale: integer luma ``(299·R + 587·G + 114·B) // 1000``;
    2. block-mean downsample to ``grid × (grid+1)`` with EXACT integer
       block sums over index-boundary blocks (``[i·h//G, (i+1)·h//G)``)
       — no float interpolation, no resampling library;
    3. one bit per cell: ``left < right`` across each row's horizontal
       gradient, packed row-major into ``grid²`` bits (grid=8 → 64,
       returned as a SIGNED 64-bit value so it lands in a Spark BIGINT).

    The gradient construction makes the hash invariant to global
    brightness/contrast shifts (adding a constant or scaling all pixels
    preserves every ``<`` comparison) — the property that makes dHash a
    PERCEPTUAL dup key where md5-of-bytes is not.
    """
    if grid < 2 or grid * grid > 64:
        raise ValueError(f"grid must be in [2, 8] (grid^2 bits <= 64), got {grid}")
    h, w, _ = pixels.shape
    if h < 1 or w < 2:
        raise ValueError(f"image too small for a horizontal gradient: {h}x{w}")
    luma = (
        pixels[:, :, 0].astype(np.int64) * 299
        + pixels[:, :, 1].astype(np.int64) * 587
        + pixels[:, :, 2].astype(np.int64) * 114
    ) // 1000
    gh, gw = grid, grid + 1
    ys = [(i * h) // gh for i in range(gh + 1)]
    xs = [(j * w) // gw for j in range(gw + 1)]
    # degenerate tiny images: empty blocks read as 0 (documented — use
    # images with h >= grid and w >= grid+1 for meaningful hashes)
    cells = np.zeros((gh, gw), dtype=np.int64)
    for i in range(gh):
        for j in range(gw):
            block = luma[ys[i] : ys[i + 1], xs[j] : xs[j + 1]]
            cells[i, j] = int(block.sum()) // block.size if block.size else 0
    bits = 0
    for i in range(gh):
        for j in range(gw - 1):
            bits = (bits << 1) | int(cells[i, j] < cells[i, j + 1])
    if bits >= 1 << 63:  # two's-complement into a signed BIGINT
        bits -= 1 << 64
    return bits


def image_dhash(
    binary_df: DataFrame,
    *,
    grid: int = 8,
    frame: int = 0,
) -> DataFrame:
    """X58: perceptual image fingerprints — ``(doc_id, dhash BIGINT)``
    over a binary media column, Arrow-batched (:func:`dhash_pixels` per
    payload; ``frame`` picks which BMP of a concatenated clip to hash).
    Undecodable/empty payloads drop with a NULL-safe filter — a
    production corpus always carries a corrupt tail.

    Pair with :func:`~pyspark_dist_explore_spark.operators.dedup.
    hamming_neardup` (``bits=grid²``) for banded perceptual near-dup
    pairs: the same pigeonhole join the text SimHash route uses, so
    image dedup at 100 TB inherits the proven no-cross-join shape.
    Exact byte dups are a strict subset (hamming 0); brightness-shifted
    re-encodes — which break md5 content hashes — land at distance 0
    too (pinned in pytest).
    """

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    frames = split_bmp_frames(bytes(payload))
                    px = decode_bmp(frames[frame])
                    hashes.append(dhash_pixels(px, grid=grid))
                    ids.append(doc_id)
                except (ValueError, IndexError):
                    continue
            yield pd.DataFrame({"doc_id": ids, "dhash": pd.array(hashes, dtype="int64")})

    return binary_df.select("doc_id", "payload").mapInPandas(
        _hash, schema="doc_id bigint, dhash bigint"
    )


def afp_samples(samples: np.ndarray, *, n_bits: int = 64) -> int:
    """X59 reference: audio energy-gradient fingerprint — the WAV
    counterpart of :func:`dhash_pixels`, PURE INTEGER end to end so the
    distributed operator is bit-identical to this single-machine form.

    The sample array splits into ``n_bits + 1`` index-boundary blocks
    (``[i·n//(B+1), (i+1)·n//(B+1))``); each block's energy is the
    EXACT integer mean of ``|sample|`` (sum // size); bit ``i`` is
    ``energy_i < energy_{i+1}`` — the temporal loudness CONTOUR, packed
    into a signed 64-bit value.  Re-encodes at a different overall gain
    mostly preserve the contour (positive scaling preserves strict
    energy order up to integer-division rounding), while md5-of-bytes
    breaks on the first bit of gain change; exact silence and constant
    tones hash to all-zero bits (documented — contour-free audio is
    indistinguishable here by design).
    """
    if n_bits < 1 or n_bits > 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    n = len(samples)
    if n < n_bits + 1:
        raise ValueError(f"need at least n_bits+1 samples, got {n}")
    mag = np.abs(samples.astype(np.int64))
    nb = n_bits + 1
    bounds = [(i * n) // nb for i in range(nb + 1)]
    energy = [
        int(mag[bounds[i] : bounds[i + 1]].sum()) // (bounds[i + 1] - bounds[i])
        for i in range(nb)
    ]
    bits = 0
    for i in range(n_bits):
        bits = (bits << 1) | int(energy[i] < energy[i + 1])
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def audio_fingerprint(
    binary_df: DataFrame,
    *,
    n_bits: int = 64,
) -> DataFrame:
    """X59: perceptual audio fingerprints — ``(doc_id, afp BIGINT)``
    over a binary WAV column, Arrow-batched (:func:`afp_samples` per
    payload).  Undecodable or too-short payloads drop NULL-safe.

    Pair with :func:`~pyspark_dist_explore_spark.operators.dedup.
    hamming_neardup` (``bits=n_bits``) for banded perceptual near-dup
    pairs over audio — the identical pigeonhole join the text SimHash
    and image dHash routes use, so all three modalities share one
    proven no-cross-join dedup shape.
    """

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, samples = decode_wav(bytes(payload))
                    fps.append(afp_samples(samples, n_bits=n_bits))
                    ids.append(doc_id)
                except ValueError:
                    continue
            yield pd.DataFrame({"doc_id": ids, "afp": pd.array(fps, dtype="int64")})

    return binary_df.select("doc_id", "payload").mapInPandas(
        _hash, schema="doc_id bigint, afp bigint"
    )
